"""Decontamination + heavy-hitter boilerplate detection (operators/text.py).

Planted fixtures make the expected report analytic: eval docs share known
shingles with specific train docs; a boilerplate gram is stamped into a
known fraction of the corpus.
"""

import pytest

from geomatics_geotk_spark.operators import text


@pytest.fixture(scope="module")
def frames(spark):
    # eval set: two docs.  "alpha beta gamma delta" contributes shingles
    # {"alpha beta gamma", "beta gamma delta"}.
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta"), (101, "zeta eta theta")],
        "doc_id long, text string",
    )
    tr = spark.createDataFrame(
        [
            # full copy of eval doc 100 -> contamination 1.0 (2/2)
            (1, "alpha beta gamma delta"),
            # shares exactly one shingle ("alpha beta gamma") out of its 3
            (2, "alpha beta gamma omega pi"),
            # clean
            (3, "one two three four five"),
        ],
        "doc_id long, text string",
    )
    return tr, ev


def test_contamination_report(frames):
    tr, ev = frames
    rows = {
        r["doc_id"]: r
        for r in text.contamination_report(tr, ev, shingle_n=3).collect()
    }
    assert set(rows) == {1, 2, 3}, "zero-hit docs must still be reported"
    assert rows[1]["n_shingles"] == 2 and rows[1]["contamination"] == 1.0
    assert rows[2]["n_shingles"] == 3 and rows[2]["n_contaminated"] == 1
    assert rows[2]["contamination"] == pytest.approx(1 / 3)
    assert rows[3]["n_contaminated"] == 0 and rows[3]["contamination"] == 0.0


def test_contamination_counts_distinct_doc_grams_once(spark):
    # repeated occurrences of a contaminated gram inside one doc count
    # once: shingles are per-doc DISTINCT
    ev = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")
    tr = spark.createDataFrame(
        [(1, "a b c x a b c")], "doc_id long, text string"
    )
    row = text.contamination_report(tr, ev, shingle_n=3).collect()[0]
    assert row["n_contaminated"] == 1


@pytest.mark.parametrize("kw", [{"min_df": 3}, {"rel_df": 0.5}])
def test_heavy_hitter_shingles(spark, kw):
    # boilerplate gram "click here now" planted in 3 of 5 docs (df=3);
    # every other gram is unique -> both the absolute (>=3) and the
    # relative (>=0.5*5=2.5) threshold select exactly the planted gram
    docs = spark.createDataFrame(
        [
            (1, "click here now foo"),
            (2, "bar click here now"),
            (3, "click here now baz qux"),
            (4, "plain text row four"),
            (5, "plain other row five"),
        ],
        "doc_id long, text string",
    )
    out = text.heavy_hitter_shingles(docs, shingle_n=3, **kw).collect()
    assert {(r["shingle"], r["df"]) for r in out} == {("click here now", 3)}


def test_heavy_hitter_requires_exactly_one_threshold(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        text.heavy_hitter_shingles(docs)
    with pytest.raises(ValueError):
        text.heavy_hitter_shingles(docs, min_df=2, rel_df=0.1)


# ---------------------------------------------------------------------------
# Splits, repetition, PII, URL domains
# ---------------------------------------------------------------------------


def test_split_assign_deterministic_and_partitioning(spark):
    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = text.with_split_assign(docs, hash_fn="xxhash64")
    rows = out.collect()
    # exhaustive label cover, buckets respect the cumulative cutoffs
    for r in rows:
        expected = (
            "train" if r["split_bucket"] < 8000
            else "val" if r["split_bucket"] < 9000 else "test"
        )
        assert r["split"] == expected
    # deterministic across re-evaluation
    again = {r["doc_id"]: r["split"] for r in out.collect()}
    assert all(again[r["doc_id"]] == r["split"] for r in rows)
    # roughly proportional (hash uniformity; generous tolerance)
    n_train = sum(r["split"] == "train" for r in rows)
    assert 0.7 * 2000 < n_train < 0.9 * 2000


def test_split_assign_weights_must_sum_to_one(spark):
    docs = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        text.with_split_assign(docs, weights={"a": 0.5, "b": 0.2})


def test_with_repetition_planted(spark):
    docs = spark.createDataFrame(
        [
            # 6 tokens, all distinct; 4 grams, all distinct
            (1, "a b c d e f"),
            # "x y z" repeated: 6 tokens / 3 distinct -> 0.5;
            # grams: [xyz, yzx, zxy, xyz] -> 4 total / 3 distinct -> 0.25
            (2, "x y z x y z"),
            # shorter than n: single partial gram, no crash
            (3, "solo"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.with_repetition(docs, n=3).collect()}
    assert rows[1]["dup_token_ratio"] == 0.0 and rows[1]["dup_gram_ratio"] == 0.0
    assert rows[2]["dup_token_ratio"] == pytest.approx(0.5)
    assert rows[2]["dup_gram_ratio"] == pytest.approx(0.25)
    assert rows[3]["n_tokens"] == 1 and rows[3]["dup_gram_ratio"] == 0.0


def test_with_pii_counts_and_redaction(spark):
    docs = spark.createDataFrame(
        [
            (1, "reach me at jo.doe+x@sub.example.org or +12-345-6789 ok"),
            (2, "server 192.168.0.1 and 10.0.0.255 up"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.with_pii(docs).collect()}
    assert (rows[1]["n_email"], rows[1]["n_phone"], rows[1]["n_ipv4"]) == (1, 1, 0)
    assert rows[1]["redacted"] == "reach me at <EMAIL> or <PHONE> ok"
    assert rows[2]["n_ipv4"] == 2 and rows[2]["n_pii"] == 2
    assert rows[2]["redacted"] == "server <IPV4> and <IPV4> up"
    assert rows[3]["n_pii"] == 0 and rows[3]["redacted"] == rows[3]["text"]


def test_url_domain_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "see https://a.example.com/x and http://b.io/y?q=1"),
            (2, "again https://a.example.com/other plain text"),
            (3, "no links"),
        ],
        "doc_id long, text string",
    )
    out = {r["domain"]: r["n_urls"] for r in text.url_domain_counts(docs).collect()}
    assert out == {"a.example.com": 2, "b.io": 1}


def test_stratified_topk_salt_invariant_and_exact(spark):
    import hashlib

    rows = [(i, "en" if i % 3 else "de") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 10000

    expected = {}
    for lang in ("en", "de"):
        members = sorted(
            (i for i, l in rows if l == lang), key=lambda i: (bucket(i), i)
        )[:5]
        expected.update({(lang, m): r + 1 for r, m in enumerate(members)})

    out = text.stratified_topk(docs, "lang", k=5, hash_fn="md5").collect()
    got = {(r["lang"], r["doc_id"]): r["sample_rank"] for r in out}
    assert got == expected


def test_curation_funnel_monotone(spark):
    from geomatics_geotk_spark.queries import q_curation_funnel

    rows = {
        r["stage"]: r["n_docs"]
        for r in q_curation_funnel(spark, "/root/testdata/sf0.001").collect()
    }
    assert list(rows) and rows["all"] >= rows["quality"] >= rows["lang"] >= rows["dedup"] >= rows["decontam"]
    assert rows["decontam"] > 0


def test_dedup_lines_planted(spark):
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    docs = spark.createDataFrame(
        [
            (1, "a b c x y z"),       # shares line "a b c" with doc 2
            (2, "a b c q r s"),
            (3, "u v w"),             # unique
            (4, "a b c"),             # fully boilerplate -> 0 kept
            (5, "m n o m n o"),       # same line twice WITHIN one doc: df=1, kept
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in text.dedup_lines(docs, line_tokens=3, min_docs=2).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}, "every doc reported, even fully dropped"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (2, 1)
    assert out[1]["kept_md5"] == md5("x y z")
    assert (out[2]["n_lines"], out[2]["n_kept"]) == (2, 1)
    assert out[2]["kept_md5"] == md5("q r s")
    assert (out[3]["n_lines"], out[3]["n_kept"]) == (1, 1)
    assert (out[4]["n_lines"], out[4]["n_kept"]) == (1, 0)
    assert out[4]["kept_md5"] == md5("")
    # intra-doc repeats are ONE distinct doc -> not boilerplate; order kept
    assert (out[5]["n_lines"], out[5]["n_kept"]) == (2, 2)
    assert out[5]["kept_md5"] == md5("m n o m n o")


def test_chunk_sliding_planted(spark):
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    toks = [f"t{i}" for i in range(1, 11)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "only two")],
        "doc_id long, text string",
    )
    out = text.chunk_sliding(docs, window=4, stride=3).collect()
    d1 = sorted((r for r in out if r["doc_id"] == 1), key=lambda r: r["chunk_id"])
    # n=10, W=4, S=3 -> ceil((10-4)/3)+1 = 3 chunks at starts 1, 4, 7
    assert [(r["chunk_id"], r["start_tok"], r["n_chunk_tokens"]) for r in d1] == [
        (0, 1, 4), (1, 4, 4), (2, 7, 4),
    ]
    assert d1[0]["chunk_md5"] == md5("t1 t2 t3 t4")
    assert d1[2]["chunk_md5"] == md5("t7 t8 t9 t10")
    d2 = [r for r in out if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["n_chunk_tokens"] == 2
    assert d2[0]["chunk_md5"] == md5("only two")


def test_chunk_sliding_rejects_bad_stride(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        text.chunk_sliding(docs, window=4, stride=5)


def test_selfsim_report_planted(spark):
    # W=4 windows, stride 1.  doc 1 and doc 2 share the 4-token run
    # "a b c d" (one window each); doc 3 is too short for any window;
    # doc 4 repeats doc 1 exactly (all windows duplicated).
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),    # windows: "a b c d", "b c d e"
            (2, "z a b c d"),    # windows: "z a b c", "a b c d"
            (3, "x y z"),        # shorter than one window
            (4, "a b c d e"),    # exact dup of doc 1
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in text.selfsim_report(docs, window=4, min_docs=2).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    # doc 1: both windows duplicated ("a b c d" in 2&4, "b c d e" in 4)
    assert (out[1]["n_windows"], out[1]["n_dup_windows"]) == (2, 2)
    assert out[1]["dup_fraction"] == 1.0
    assert (out[2]["n_windows"], out[2]["n_dup_windows"]) == (2, 1)
    assert out[2]["dup_fraction"] == 0.5
    assert (out[3]["n_windows"], out[3]["n_dup_windows"]) == (0, 0)
    assert out[3]["dup_fraction"] == 0.0
    assert out[4]["dup_fraction"] == 1.0


def test_compact_adjacent_text_spans_planted(spark):
    from pyspark.sql import functions as F

    from geomatics_geotk_spark.sources.documents import (
        compact_adjacent_text_spans,
    )

    df = spark.createDataFrame(
        [
            (1, ["text:a", "text:b", "media:m1", "text:c"]),
            (2, ["media:m1", "text:a", "text:b", "text:c"]),
            (3, ["media:m1", "media:m2"]),
            (4, ["text:solo"]),
        ],
        "doc_id long, spans array<string>",
    )
    out = {
        r["doc_id"]: r["c"]
        for r in df.select(
            "doc_id", compact_adjacent_text_spans(F.col("spans")).alias("c")
        ).collect()
    }
    assert out[1] == ["text:a b", "media:m1", "text:c"]
    assert out[2] == ["media:m1", "text:a b c"]
    assert out[3] == ["media:m1", "media:m2"], "non-text spans never merge"
    assert out[4] == ["text:solo"]


def test_null_text_docs_still_reported(spark):
    """dedup_lines and contamination_report must report NULL-text docs
    (0 lines / 0.0 contamination), not drop them or hash phantom lines."""
    import hashlib

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None)], "doc_id long, text string"
    )
    ld = {r["doc_id"]: r for r in text.dedup_lines(docs, line_tokens=3).collect()}
    assert set(ld) == {1, 2}
    assert (ld[2]["n_lines"], ld[2]["n_kept"]) == (0, 0)
    assert ld[2]["kept_md5"] == hashlib.md5(b"").hexdigest()

    ev = spark.createDataFrame([(9, "x y z")], "doc_id long, text string")
    rep = {r["doc_id"]: r for r in text.contamination_report(docs, ev).collect()}
    assert set(rep) == {1, 2}, "every doc appears, NULL text included"
    # NULL text flows through the shingle pipeline as the single ''
    # gram on BOTH engines (the established oracle-mirrored semantic);
    # the restore join guards the contract under either size(NULL) mode
    assert rep[2]["n_shingles"] == 1 and rep[2]["contamination"] == 0.0


class TestBM25:
    def test_ranking_semantics(self, spark):
        """A doc hitting a RARE query term must outrank a doc hitting a
        corpus-saturating one (idf), and more hits beat fewer (tf)."""
        filler = [(i, "alpha beta gamma delta epsilon zeta") for i in range(20)]
        rows = filler + [
            (100, "needle alpha beta gamma delta epsilon"),   # rare term once
            (101, "alpha alpha alpha beta gamma delta"),      # common term thrice
            (102, "needle needle alpha beta gamma delta"),    # rare term twice
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = text.bm25_topk(df, ["needle", "alpha"], k=3).collect()
        by_rank = sorted(got, key=lambda r: r["rank"])
        order = [r["doc_id"] for r in by_rank]
        assert order[0] == 102  # two rare-term hits
        assert order[1] == 100  # one rare-term hit
        assert by_rank[0]["n_terms_hit"] == 2

    def test_no_match_returns_empty(self, spark):
        df = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
        assert text.bm25_topk(df, ["zzz"], k=5).count() == 0

    def test_topk_plan_is_take_ordered(self, spark):
        """The global top-k must be TakeOrderedAndProject (distributed
        per-partition heaps), not a single-partition window sort."""
        df = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
        plan = text.bm25_topk(df, ["alpha"], k=5)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestWeightedSample:
    def test_scale_invariance_and_determinism(self, spark):
        """A-ES keys are ln(u)/w: scaling ALL weights by a constant
        divides every key by it, so the selected SET is invariant —
        and the deterministic u makes reruns identical."""
        from geomatics_geotk_spark.operators import text

        rows = [(i, float(1 + (i * 7) % 50)) for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        a = {r["doc_id"] for r in text.weighted_sample(df, "w", k=20).collect()}
        df2 = df.selectExpr("doc_id", "w * 3.0 AS w")
        b = {r["doc_id"] for r in text.weighted_sample(df2, "w", k=20).collect()}
        c = {r["doc_id"] for r in text.weighted_sample(df, "w", k=20).collect()}
        assert a == b == c and len(a) == 20

    def test_nonpositive_weights_excluded(self, spark):
        from geomatics_geotk_spark.operators import text

        rows = [(1, 0.0), (2, -3.0), (3, 5.0), (4, 1.0)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        got = {r["doc_id"] for r in text.weighted_sample(df, "w", k=10).collect()}
        assert got == {3, 4}

    def test_plan_is_take_ordered(self, spark):
        """Global weighted top-k must be TakeOrderedAndProject — no
        single-partition sort at any corpus size."""
        from geomatics_geotk_spark.operators import text

        df = spark.createDataFrame([(1, 2.0)], "doc_id long, w double")
        plan = (
            text.weighted_sample(df, "w", k=5)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan

    def test_heavier_rows_win_more(self, spark):
        """Inclusion probability must track weight: with weights 100 vs
        1 over a large pool, the heavy rows should dominate the sample
        (deterministic check — the fixed hash realizes one draw, and at
        this margin the law of large numbers makes the outcome stable)."""
        from geomatics_geotk_spark.operators import text

        rows = [(i, 100.0 if i % 2 == 0 else 1.0) for i in range(2000)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        got = [r["doc_id"] for r in text.weighted_sample(df, "w", k=100).collect()]
        heavy = sum(1 for d in got if d % 2 == 0)
        assert heavy >= 90


class TestPackSequences:
    def test_two_phase_prefix_equals_sequential(self, spark):
        """Reconstructing each doc's global prefix from (seq_id,
        seq_offset) must reproduce the sequential concat exactly, and
        n_seqs must match the analytic span count."""
        from geomatics_geotk_spark.operators import text

        rows = [(i, 1 + (i * 13) % 97) for i in range(500)]
        df = spark.createDataFrame(rows, "doc_id long, n long")
        L = 64
        got = text.pack_sequences(df, "n", seq_len=L, buckets=32).collect()
        by_order = sorted(got, key=lambda r: (r["pack_bucket"], r["doc_id"]))
        running = 0
        for r in by_order:
            prefix = r["seq_id"] * L + r["seq_offset"]
            assert prefix == running, (r["doc_id"], prefix, running)
            last = prefix + r["n"] - 1
            assert r["n_seqs"] == last // L - prefix // L + 1
            running += r["n"]

    def test_zero_length_excluded_and_bad_seqlen(self, spark):
        import pytest

        from geomatics_geotk_spark.operators import text

        df = spark.createDataFrame([(1, 0), (2, 5)], "doc_id long, n long")
        got = text.pack_sequences(df, "n", seq_len=8).collect()
        assert [r["doc_id"] for r in got] == [2]
        with pytest.raises(ValueError):
            text.pack_sequences(df, "n", seq_len=0)


class TestContainmentPairs:
    def test_quote_inside_larger_doc(self, spark):
        """The asymmetric case Jaccard misses: a 10-shingle snippet fully
        quoted inside a 100-word page -> containment 1.0 one way, tiny
        Jaccard, nothing in the reverse direction."""
        from pyspark.sql import functions as F
        from geomatics_geotk_spark.operators import dedup
        snippet = " ".join(f"quote{i}" for i in range(12))
        page = snippet + " " + " ".join(f"filler{i}" for i in range(100))
        other = " ".join(f"noise{i}" for i in range(50))
        docs = spark.createDataFrame(
            [(1, snippet), (2, page), (3, other)], "doc_id long, text string"
        )
        out = {(r.src_id, r.dst_id): r.containment
               for r in dedup.ngram_containment_pairs(docs, threshold=0.6).collect()}
        assert out == {(1, 2): 1.0}
        jac = dedup.ngram_jaccard_pairs(docs, threshold=0.4).collect()
        assert jac == []  # symmetric Jaccard never sees the quote

    def test_prefix_filter_is_exact(self, spark):
        """Candidate pruning must not change the row set: compare against
        the naive all-shingle join via the hot-shingle-cap-off path."""
        from geomatics_geotk_spark.operators import dedup
        import itertools
        words = [f"w{i}" for i in range(30)]
        docs = []
        for d in range(12):
            start = (d * 3) % 20
            docs.append((d, " ".join(words[start:start + 8 + d % 5])))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {(r.src_id, r.dst_id): round(r.containment, 9)
               for r in dedup.ngram_containment_pairs(df, threshold=0.5).collect()}
        # naive reference in python
        def shingles(t):
            tk = t.split()
            if len(tk) < 3:
                return {" ".join(tk)}
            return {" ".join(tk[i:i + 3]) for i in range(len(tk) - 2)}
        sets = {d: shingles(t) for d, t in docs}
        want = {}
        for a, b in itertools.permutations(sets, 2):
            c = len(sets[a] & sets[b]) / len(sets[a])
            if c >= 0.5 - 1e-9:
                want[(a, b)] = round(c, 9)
        assert got == want and len(want) > 0
