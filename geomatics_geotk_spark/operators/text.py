"""Text-analysis operators for training-data pipelines — all pure Column
expressions (JVM, whole-stage codegen; no Python in the row path).

language-ID (stopword-marker heuristic), quality scoring
(length/punctuation/stopword ratios), token counting (whitespace + a
BPE-ish regex), and rolling-hash document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import md5_long15

# Tiny per-language marker sets (deterministic heuristic; the goal is a
# reproducible operator shape, not linguistic accuracy).
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "es"],
    "fr": ["le", "la", "et", "est", "les"],
    "de": ["der", "die", "und", "ist", "das"],
}

_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _tokens(text: Column) -> Column:
    return F.split(F.lower(text), r"\s+")


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count + char count."""
    toks = _tokens(F.col(text_col))
    return (
        df.withColumn("n_tokens_ws", F.size(toks))
        .withColumn("n_tokens_bpe", F.size(F.regexp_extract_all(F.col(text_col), F.lit(_BPE_ISH), 0)))
        .withColumn("n_chars_calc", F.length(text_col))
    )


def _marker_hits(toks: Column, markers: list[str]) -> Column:
    """Number of tokens that are in the marker set (counts repeats)."""
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language id: argmax marker-hit count, ties → 'und'.

    Adds ``lang_pred`` and per-language hit counts.
    """
    toks = _tokens(F.col(text_col))
    out = df
    for lang, markers in LANG_MARKERS.items():
        out = out.withColumn(f"hits_{lang}", _marker_hits(toks, markers))
    hit_cols = [F.col(f"hits_{lang}") for lang in LANG_MARKERS]
    best = F.greatest(*hit_cols)
    pred = F.lit("und")
    # reversed so earlier languages win ties (deterministic)
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(F.col(f"hits_{lang}") == best, F.lit(lang)).otherwise(pred)
    return out.withColumn("lang_pred", F.when(best > 0, pred).otherwise(F.lit("und")))


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio quality features + a
    composite [0,1] score (monotone, deterministic)."""
    text = F.col(text_col)
    toks = _tokens(text)
    n_chars = F.length(text).cast("double")
    n_tokens = F.size(toks).cast("double")
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0)).cast("double")
    en_stops = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en_stops, t))).cast("double")
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    mean_tok_len = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0))
    length_score = F.least(n_tokens / F.lit(64.0), F.lit(1.0))
    score = (
        F.lit(0.4) * length_score
        + F.lit(0.3) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0)))
    )
    return (
        df.withColumn("punct_ratio", punct_ratio)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn("mean_token_len", mean_tok_len)
        .withColumn("quality_score", score)
    )


FP_MOD = 1 << 40  # keeps acc*31 + h inside long range under ANSI math


def with_fingerprint(df: DataFrame, text_col: str = "text",
                     hash_fn: str = "xxhash64") -> DataFrame:
    """Rolling polynomial hash over tokens:
    ``acc = (acc*31 + (h(token) mod M)) mod M`` folded left via
    ``aggregate`` — order-sensitive (a true document fingerprint, not a
    bag hash) and overflow-free under ANSI arithmetic.

    hash_fn: 'xxhash64' (fast JVM path, default) or 'md5' (first 15 hex
    chars → long — exactly reproducible in a DuckDB oracle via
    ``('0x'||substr(md5(t),1,15))::BIGINT``).
    """
    toks = _tokens(F.col(text_col))
    if hash_fn == "xxhash64":
        h = lambda t: F.pmod(F.xxhash64(t), F.lit(FP_MOD))  # noqa: E731
    elif hash_fn == "md5":
        h = lambda t: F.pmod(md5_long15(t), F.lit(FP_MOD))  # noqa: E731
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(acc * F.lit(31).cast("long") + h(t), F.lit(FP_MOD)),
    )
    return df.withColumn("fingerprint", fp)


# ---------------------------------------------------------------------------
# Splits, repetition, PII, URL domains
# ---------------------------------------------------------------------------

# Shared PII regexes — RE2-safe subsets (no \b, \d, lookaround) so the
# SAME literal pattern runs under Spark's Java regex and DuckDB's RE2.
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
PII_PHONE = "[+][0-9]{2}-[0-9]{3}-[0-9]{4}"
PII_IPV4 = "([0-9]{1,3}[.]){3}[0-9]{1,3}"
URL_PATTERN = "https?://[^ ]+"
URL_DOMAIN = "^https?://([^/ ]+)"


def with_split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    buckets: int = 10_000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic train/val/test assignment: hash the id into one of
    ``buckets`` buckets, then map cumulative-weight cutoffs to split
    labels.  Adds ``split_bucket`` and ``split``.

    Pure per-row Column map — no shuffle, no RNG: the same row lands in
    the same split on every run, at every scale, on any cluster layout
    (the property random `df.sample` cannot give across re-runs).
    hash_fn 'xxhash64' is the production path; 'md5' is the
    DuckDB-mirrorable twin (``('0x'||substr(md5(id),1,15))::BIGINT``).
    """
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    if abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError("split weights must sum to 1")
    bucket = _id_bucket(id_col, buckets, hash_fn)
    expr, cum = None, 0.0
    labels = list(weights)
    for name in labels[:-1]:
        cum += weights[name]
        cut = int(round(cum * buckets))
        branch = (bucket < F.lit(cut), F.lit(name))
        expr = F.when(*branch) if expr is None else expr.when(*branch)
    split = F.lit(labels[-1]) if expr is None else expr.otherwise(F.lit(labels[-1]))
    return df.withColumn("split_bucket", bucket).withColumn("split", split)


def _id_bucket(id_col: str, buckets: int, hash_fn: str) -> Column:
    """Deterministic bucket in [0, buckets) from the string form of an id
    ('xxhash64' production path / 'md5' DuckDB-mirrorable twin)."""
    sid = F.col(id_col).cast("string")
    if hash_fn == "xxhash64":
        h = F.xxhash64(sid)
    elif hash_fn == "md5":
        h = md5_long15(sid)
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    return F.pmod(h, F.lit(buckets))


def stratified_topk(
    df: DataFrame,
    strata_col: str,
    k: int,
    id_col: str = "doc_id",
    buckets: int = 10_000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic per-stratum sample: the ``k`` rows with the smallest
    ``(hash_bucket, id)`` per stratum (adds ``sample_bucket`` and
    ``sample_rank``).  Re-runnable and layout-independent, unlike
    ``sampleBy``.

    One ``row_number() <= k`` window per stratum: Catalyst plans it as a
    partial ``WindowGroupLimit`` below the exchange and a final one above
    it, so even a stratum holding most of the corpus ships at most k rows
    per input partition and no task sorts the whole stratum.
    """
    bucket = _id_bucket(id_col, buckets, hash_fn)
    w = Window.partitionBy(strata_col).orderBy("sample_bucket", id_col)
    return (
        df.withColumn("sample_bucket", bucket)
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    denom: int = 1 << 40,
    hash_fn: str = "xxhash64",
    key_col: str = "es_key",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via exponential keys
    (Efraimidis & Spirakis 2006, the A-ES scheme): each row draws a
    deterministic uniform ``u`` from its id hash and the ``k`` rows with
    the largest ``ln(u)/w`` win — equivalent to ranking by ``u^(1/w)``,
    so every row's inclusion probability is proportional to its weight
    among the remaining rows, the textbook weighted-reservoir rule.

    Scale shape: one per-row Column expression (hash → uniform → key),
    then a GLOBAL top-k — ``orderBy(key).limit(k)``, which Spark executes
    as TakeOrderedAndProject: each task keeps a k-row heap and the
    driver merges task heaps, so no global sort and no single-partition
    window at any corpus size.  Determinism: re-runnable and
    layout-independent (same id ⇒ same u ⇒ same key on every run and
    every cluster layout — the property ``df.sample`` cannot give).
    ``u = (bucket + 0.5)/denom`` stays strictly inside (0,1), so the
    key is finite for every positive weight.  hash_fn 'xxhash64' is the
    production path; 'md5' is the DuckDB-mirrorable twin.

    Weights must be positive; rows with ``weight <= 0`` are excluded
    (matching the A-ES domain, where a zero-weight row can never win).
    """
    bucket = _id_bucket(id_col, denom, hash_fn)
    u = (bucket.cast("double") + F.lit(0.5)) / F.lit(float(denom))
    key = F.log(u) / F.col(weight_col).cast("double")
    staged = (
        df.where(F.col(weight_col) > 0)
        .withColumn(key_col, key)
    )
    return staged.orderBy(F.col(key_col).desc(), F.col(id_col).asc()).limit(k)


def pack_sequences(
    df: DataFrame,
    len_col: str,
    seq_len: int,
    id_col: str = "doc_id",
    buckets: int = 10_000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Concat-and-split sequence packing — the standard pretraining
    batcher: documents are laid out in one deterministic global order,
    conceptually concatenated, and cut into fixed ``seq_len`` windows.
    Adds ``seq_id`` (the training sequence this doc STARTS in),
    ``seq_offset`` (token offset inside it), and ``n_seqs`` (how many
    sequences the doc spans — >1 means it crosses a cut).

    The naive form is a GLOBAL cumulative sum — one window partition at
    100 TB.  This is the two-phase distributed prefix sum: the global
    order is (pack_bucket, id) with pack_bucket a hash of the id, so
    (1) per-bucket token totals reduce in ONE tiny map-side-combined
    agg, (2) running bucket offsets need a window over ≤ ``buckets``
    rows (bounded by construction — the same ~tiny-window contract as
    ``budget_pack``), broadcast back, and (3) each row's global prefix
    is its bucket offset plus a WITHIN-bucket running sum whose window
    partition is ~1/buckets of the corpus.  All arithmetic is integer,
    so the two-phase result equals the naive global cumsum EXACTLY.
    Zero-length docs are excluded (they occupy no tokens and have no
    well-defined sequence)."""
    if seq_len <= 0:
        raise ValueError(f"pack_sequences: seq_len must be positive, got {seq_len}")
    bucket = _id_bucket(id_col, buckets, hash_fn)
    staged = (
        df.where(F.col(len_col) > 0)
        .withColumn("pack_bucket", bucket)
    )
    bt = staged.groupBy("pack_bucket").agg(F.sum(len_col).alias("_bt"))
    wb = Window.orderBy("pack_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bt = (
        bt.withColumn("_cum_after", F.sum("_bt").over(wb))
        .select("pack_bucket", (F.col("_cum_after") - F.col("_bt")).alias("_boff"))
    )
    d = staged.join(F.broadcast(bt), "pack_bucket")
    wi = (
        Window.partitionBy("pack_bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("_intra_after", F.sum(len_col).over(wi))
    prefix = (F.col("_boff") + F.col("_intra_after") - F.col(len_col)).cast("long")
    last = prefix + F.col(len_col).cast("long") - F.lit(1)
    return (
        d.withColumn("seq_id", F.floor(prefix / F.lit(seq_len)))
        .withColumn("seq_offset", F.pmod(prefix, F.lit(seq_len)))
        .withColumn(
            "n_seqs",
            (F.floor(last / F.lit(seq_len)) - F.col("seq_id") + F.lit(1)).cast("long"),
        )
        .drop("_boff", "_intra_after")
    )


def with_repetition(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Intra-document repetition features: ``dup_token_ratio`` (1 −
    distinct/total tokens) and ``dup_gram_ratio`` over NON-distinct word
    n-grams (the within-doc twin of the corpus-level boilerplate
    detector — high values flag template/spam pages).  Pure Column
    (split + transform + array_distinct), zero shuffles.
    """
    out = df.withColumn("_toks", _tokens(F.col(text_col)))
    toks = F.col("_toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.try_element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    out = out.withColumn("_grams", grams)
    n_tok = F.size(toks).cast("double")
    n_gr = F.size("_grams").cast("double")
    return (
        out.withColumn("n_tokens", F.size(toks))
        .withColumn(
            "dup_token_ratio",
            F.when(n_tok > 0, F.lit(1.0) - F.size(F.array_distinct(toks)) / n_tok)
            .otherwise(F.lit(0.0)),
        )
        .withColumn(
            "dup_gram_ratio",
            F.when(n_gr > 0, F.lit(1.0) - F.size(F.array_distinct("_grams")) / n_gr)
            .otherwise(F.lit(0.0)),
        )
        .drop("_toks", "_grams")
    )


def with_pii(df: DataFrame, text_col: str = "text", redact: bool = True) -> DataFrame:
    """PII detection (+ optional redaction): per-row counts of email /
    phone / IPv4 matches (``n_email``, ``n_phone``, ``n_ipv4``,
    ``n_pii``) and, when ``redact``, a ``redacted`` column with matches
    replaced by ``<EMAIL>`` / ``<PHONE>`` / ``<IPV4>`` — email first so
    digit-bearing hostnames can't be re-matched as numbers.  All JVM
    regex Column ops; the patterns are RE2-safe so a DuckDB oracle can
    run the identical literals.
    """
    t = F.col(text_col)
    out = (
        df.withColumn("n_email", F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), 0)))
        .withColumn("n_phone", F.size(F.regexp_extract_all(t, F.lit(PII_PHONE), 0)))
        .withColumn("n_ipv4", F.size(F.regexp_extract_all(t, F.lit(PII_IPV4), 0)))
    )
    out = out.withColumn(
        "n_pii", F.col("n_email") + F.col("n_phone") + F.col("n_ipv4")
    )
    if redact:
        red = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
        red = F.regexp_replace(red, PII_PHONE, "<PHONE>")
        red = F.regexp_replace(red, PII_IPV4, "<IPV4>")
        out = out.withColumn("redacted", red)
    return out


def url_domain_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus URL-domain frequency: extract every URL, reduce to its
    host, count per domain — ``(domain, n_urls)``.  Map-side explode →
    one partial-aggregated exchange on the domain key (same shuffle
    shape as heavy_hitter_shingles: hot domains combine map-side).
    """
    urls = F.explode(
        F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), 0)
    ).alias("url")
    return (
        df.select(urls)
        .select(F.regexp_extract("url", URL_DOMAIN, 1).alias("domain"))
        .groupBy("domain")
        .agg(F.count("*").alias("n_urls"))
    )


# ---------------------------------------------------------------------------
# Line-level dedup & sliding-window chunking
# ---------------------------------------------------------------------------


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """C4-style line-level deduplication: split each document into
    fixed-width "lines" (``line_tokens`` consecutive whitespace tokens —
    the corpus has no newlines, so the window IS the line unit), drop
    every line that occurs in >= ``min_docs`` DISTINCT documents, and
    reassemble what's left in original order.  Returns one row per doc
    (docs whose lines were ALL dropped still appear):
    ``(id_col, n_lines, n_kept, kept_md5)`` where kept_md5 hashes the
    reassembled kept text ('' when nothing survives).

    Shape for 100 TB: line building is a narrow per-row transform; the
    document-frequency count is ONE distinct-agg exchange on the line
    key (map-side partials; a boilerplate line is one hot KEY, so its
    partials combine before the shuffle); the duplicate-line set is
    boilerplate-small and joins back as a broadcast; reassembly is one
    exchange on ``id_col``.  If the dup set ever outgrows the broadcast
    budget, drop the hint — the join degrades to shuffle with identical
    semantics.
    """
    L = line_tokens
    # Codegen-only line building (the minhash_signature pattern): explode
    # the line INDEX sequence, then assemble each line with top-level
    # concat_ws/try_element_at — no interpreted lambda anywhere.
    # concat_ws skips the NULLs try_element_at yields past the doc end,
    # which clamps the final partial line for free.
    staged = df.where(F.col(text_col).isNotNull()).withColumn(
        "_toks", _tokens(F.col(text_col))
    )
    tk = F.col("_toks")
    idx = F.sequence(F.lit(0), ((F.size(tk) - 1) / L).cast("int"))
    ex = staged.select(id_col, "_toks", F.explode(idx).alias("line_no"))
    line = F.concat_ws(
        " ",
        *[
            F.try_element_at("_toks", (F.col("line_no") * L + j + 1).cast("int"))
            for j in range(L)
        ],
    )
    ex = ex.select(id_col, "line_no", line.alias("line"))
    dup = (
        ex.groupBy("line")
        .agg(F.count_distinct(id_col).alias("df_line"))
        .where(F.col("df_line") >= min_docs)
        .select("line")
        .withColumn("_dup", F.lit(1))
    )
    # no broadcast hint: the ≥2-doc dup-line set scales with corpus
    # boilerplate (billions of rows at 100 TB) — AQE broadcasts at
    # runtime only if the built set truly fits
    marked = ex.join(dup, "line", "left")
    per_doc = marked.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("line_no", "_dup", "line"))).alias("_ls")
    )
    kept = F.filter(F.col("_ls"), lambda s: s.getField("_dup").isNull())
    rep = per_doc.select(
        id_col,
        F.size("_ls").cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.md5(F.concat_ws(" ", F.transform(kept, lambda s: s.getField("line")))).alias(
            "kept_md5"
        ),
    )
    # NULL-text docs produce no line rows (NULL token array → empty
    # explode) — restore them as 0-line docs so the every-doc contract
    # holds on BOTH engines (the oracle mirrors with its own outer join)
    return (
        df.select(id_col)
        .join(rep, id_col, "left")
        .na.fill({"n_lines": 0, "n_kept": 0})
        .withColumn(
            "kept_md5", F.coalesce(F.col("kept_md5"), F.md5(F.lit("")))
        )
    )


def chunk_sliding(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Sliding-window token chunking (context packing for training):
    each doc yields chunks of ``window`` tokens starting every
    ``stride`` tokens (overlap = window − stride), the final chunk
    clamped to the doc end; a doc shorter than one window yields exactly
    one chunk.  Returns ``(id_col, chunk_id, start_tok, n_chunk_tokens,
    chunk_md5)`` — the hash stands in for the chunk payload so the
    result stays compact.

    Shape for 100 TB: ZERO shuffles — chunk counts are per-row integer
    math, the explode is a narrow transform, and each output row slices
    the already-split token array.  Chunk fan-out is bounded by
    ceil(n_tokens/stride), so output size scales with corpus token
    count, not row count squared.
    """
    W, S = window, stride
    if not (0 < S <= W):
        raise ValueError("require 0 < stride <= window")
    staged = df.select(F.col(id_col), _tokens(F.col(text_col)).alias("_toks"))
    n = F.size("_toks")
    n_chunks = F.when(n <= W, F.lit(1)).otherwise(
        ((n - W + S - 1) / S).cast("int") + F.lit(1)
    )
    ex = staged.select(
        id_col, "_toks", F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id")
    )
    start = (F.col("chunk_id") * S + 1).cast("int")
    chunk = F.slice(F.col("_toks"), start, F.lit(W))
    return ex.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        start.cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


def selfsim_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
    min_docs: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Corpus self-similarity (the exact-substring-dedup signal): per
    doc, the fraction of its ``window``-token windows (stride 1, full
    windows only) whose text occurs in >= ``min_docs`` DISTINCT docs.
    Returns ``(id_col, n_windows, n_dup_windows, dup_fraction)`` — every
    doc reported; docs shorter than one window emit 0 / 0 / 0.0.

    This is the within-corpus twin of ``contamination_report`` (which
    compares against an eval set) at substring granularity — the
    suffix-array dedup papers' duplicated-span fraction, computed with
    hashes instead of suffix arrays.

    Shape for 100 TB: windows are built with the codegen-only pattern
    (index explode + top-level concat_ws — no lambda anywhere) and
    immediately reduced to a 64-bit hash, so the frequency exchange
    carries (id, long) rows, never window text; the duplicated-window
    set is boilerplate-small and broadcasts back; the per-doc rollup is
    one exchange on ``id_col``.  hash_fn 'md5' is the DuckDB-mirrorable
    twin of the xxhash64 production default.
    """
    W = window
    staged = df.select(F.col(id_col), _tokens(F.col(text_col)).alias("_toks"))
    n = F.size("_toks")
    # full windows only: starts 1..n-W+1 (empty sequence when n < W)
    ex = staged.where(n >= W).select(
        id_col,
        "_toks",
        F.explode(F.sequence(F.lit(1), F.size("_toks") - (W - 1))).alias("_s"),
    )
    win_text = F.concat_ws(
        " ", *[F.try_element_at("_toks", (F.col("_s") + j).cast("int")) for j in range(W)]
    )
    if hash_fn == "xxhash64":
        h = F.xxhash64(win_text)
    elif hash_fn == "md5":
        h = md5_long15(win_text)
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    wins = ex.select(id_col, h.alias("_h"))
    dup = (
        wins.groupBy("_h")
        .agg(F.count_distinct(id_col).alias("_df"))
        .where(F.col("_df") >= min_docs)
        .select("_h")
        .withColumn("_dup", F.lit(1))
    )
    per_doc = (
        # no broadcast hint (corpus-derived dup-window set — AQE decides)
        wins.join(dup, "_h", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_windows"),
            F.count("_dup").alias("n_dup_windows"),
        )
    )
    out = df.select(id_col).join(per_doc, id_col, "left").na.fill(
        {"n_windows": 0, "n_dup_windows": 0}
    )
    return out.select(
        id_col,
        "n_windows",
        "n_dup_windows",
        F.when(
            F.col("n_windows") > 0, F.col("n_dup_windows") / F.col("n_windows")
        ).otherwise(F.lit(0.0)).alias("dup_fraction"),
    )


# ---------------------------------------------------------------------------
# Eval-set decontamination & corpus boilerplate detection
# ---------------------------------------------------------------------------


def contamination_report(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Per training document, how much of it appears in an eval set:
    ``(id_col, n_shingles, n_contaminated, contamination)`` where
    contamination = fraction of the doc's distinct word n-grams that occur
    anywhere in ``eval_docs`` (the standard benchmark-decontamination
    check; production pipelines use 8-13-grams, the n is a knob).

    Shape for 100 TB: the eval side is benchmark-sized (thousands of
    docs), so its distinct shingle set is broadcast; the corpus side
    explodes shingles map-side and aggregates ONCE on ``id_col`` — one
    exchange total, no corpus self-join.  Every doc appears in the output
    (zero-hit docs report contamination 0.0), so a `WHERE contamination
    > t` on the result is the decontamination filter.
    """
    from .dedup import with_shingles

    ev = (
        with_shingles(eval_docs, text_col, shingle_n)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    ex = with_shingles(docs, text_col, shingle_n).select(
        id_col,
        F.size("shingles").alias("n_shingles"),
        F.explode("shingles").alias("shingle"),
    )
    rep = (
        ex.join(F.broadcast(ev), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.max("n_shingles").alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),
        )
        .withColumn("contamination", F.col("n_contaminated") / F.col("n_shingles"))
    )
    # NULL-text docs have no exploded shingle rows — restore them so the
    # every-doc contract holds (they report 0 shingles / 0.0)
    return (
        docs.select(id_col)
        .join(rep, id_col, "left")
        .na.fill({"n_shingles": 0, "n_contaminated": 0, "contamination": 0.0})
    )


def heavy_hitter_shingles(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_df: int | None = None,
    rel_df: float | None = None,
) -> DataFrame:
    """Corpus-level boilerplate detector: word n-grams whose DOCUMENT
    frequency is >= min_df (absolute) or >= rel_df * corpus size
    (relative — scale-invariant; exactly one of the two must be given).
    Returns ``(shingle, df)``.

    ``with_shingles`` already distincts grams per doc, so a plain
    ``count(*)`` after the explode IS the document frequency — no
    count-distinct exchange.  Shape: map-side partial count → one
    exchange on the shingle key.  A super-frequent gram is one hot KEY
    whose partial counts combine map-side, so frequency skew does not
    skew the shuffle.  The relative threshold needs corpus N — a
    metadata-cheap scalar count crossed in via broadcast, not a collect
    of data rows.
    """
    if (min_df is None) == (rel_df is None):
        raise ValueError("exactly one of min_df / rel_df required")
    from .dedup import with_shingles

    ex = with_shingles(docs, text_col, shingle_n).select(
        F.explode("shingles").alias("shingle")
    )
    counts = ex.groupBy("shingle").agg(F.count("*").alias("df"))
    if min_df is not None:
        return counts.where(F.col("df") >= F.lit(min_df))
    n = docs.agg(F.count("*").alias("_n_docs"))
    return (
        counts.crossJoin(F.broadcast(n))
        .where(F.col("df") >= F.col("_n_docs") * F.lit(rel_df))
        .drop("_n_docs")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 retrieval: the top-``k`` documents for a bag-of-words query —
    the lexical-search primitive of a training-data curation stack
    (eval-set mining, targeted subset extraction, hard-negative pools).

    score(D, Q) = Σ_t idf(t) · tf(t,D)·(k1+1) / (tf(t,D) + k1·(1-b+b·|D|/avgdl))
    with the standard Robertson/Sparck-Jones idf = ln(1 + (N-df+0.5)/(df+0.5)).

    Shuffle profile at 100 TB: the token explode is filtered to the query
    terms MAP-SIDE (an `isin` over a literal list — Catalyst folds it into
    the scan stage), so the tf exchange carries only query-matching
    tokens, a vanishing fraction of the corpus.  Document length and the
    (N, avgdl) scalars come from one metadata-cheap aggregation crossed
    in as a single broadcast row; df per term is an aggregate over the
    already-tiny tf table.  Nothing corpus-sized is ever shuffled except
    the one dl exchange, which is a plain map-side-combined count.

    Scores are rounded to 9 dp before ranking (JVM log vs other engines'
    ln differ by 1 ulp on some inputs); ties break on ``id_col`` so the
    LIMIT is deterministic.  Returns (doc_id, score_r, n_terms_hit).
    """
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), r"\s+")).alias("token")
    ).where(F.col("token") != "")
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    # query_terms is treated as a SET (standard BM25 practice for short
    # queries): a term listed twice contributes its term score ONCE —
    # dedupe explicitly so the contract is visible rather than an
    # accident of isin's set semantics
    query_terms = sorted({str(t) for t in query_terms})
    qt = toks.where(F.col("token").isin(query_terms))
    tf = qt.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.round(F.sum("term_score"), 9).alias("score_r"),
        F.count("*").alias("n_terms_hit"),
    )
    # distributed top-k (TakeOrderedAndProject — per-partition heaps, no
    # single-task global window over every matching doc), then rank the k
    # survivors with a window that only ever sees k rows
    top = per_doc.orderBy(F.desc("score_r"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("score_r"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(
        id_col, "rank", "score_r", "n_terms_hit"
    )


def pmi_collocations(docs: DataFrame, text_col: str = "text",
                     min_count: int = 5, k: int = 50) -> DataFrame:
    """Top-``k`` two-word collocations by pointwise mutual information —
    the classic phrase-mining signal ("new york" scores high because the
    pair co-occurs far more than its words' frequencies predict).

    PMI(w1,w2) = ln( P(w1,w2) / (P(w1)·P(w2)) )
               = ln c + 2·ln Nu − ln c1 − ln c2 − ln Nb
    with c = adjacent-pair count, c1/c2 = unigram counts, Nu/Nb = total
    unigram/bigram occurrences.  Every log argument is an INTEGER count
    (the lm_logloss/source_kl trick), so per-engine drift is ≤ a few
    ulps; the score is rounded at 9 dp BEFORE ranking so the order — and
    the reported value — is bit-identical across engines.

    Tokenization matches the vocabulary-drift family: lowercase, split
    on non-alphanumeric runs, empties removed WITH adjacency preserved
    (filter the token array, not the exploded rows, so "a--b" still
    yields the (a,b) pair).

    Shape for 100 TB: bigram pairs explode map-side and aggregate with
    partial combine into a (w1,w2) count table — ONE exchange over data
    volume; everything after operates on VOCAB-sized frames (two
    equi-joins of the pair table against the unigram table, scalar
    totals broadcast, TakeOrderedAndProject top-k — no global window,
    no single-partition sort).  ``min_count`` prunes the hapax tail
    before the joins, which is also what makes PMI statistically sane.

    Output: (w1, w2, n_pair, n_w1, n_w2, pmi_r).
    """
    toks = docs.select(
        F.filter(
            F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
            lambda t: t != F.lit(""),
        ).alias("toks")
    )
    uni = (
        toks.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c_uni"))
    )
    nu = uni.agg(F.sum("c_uni").alias("nu"))
    bg = (
        toks.where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2), "
                    "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    cb = bg.groupBy("w1", "w2").agg(F.count("*").alias("n_pair"))
    nb = cb.agg(F.sum("n_pair").alias("nb"))
    j = (
        cb.where(F.col("n_pair") >= min_count)
        .join(uni.select(F.col("token").alias("w1"),
                         F.col("c_uni").alias("n_w1")), "w1")
        .join(uni.select(F.col("token").alias("w2"),
                         F.col("c_uni").alias("n_w2")), "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
    )
    pmi_r = F.round(
        F.log("n_pair") + F.lit(2.0) * F.log("nu")
        - F.log("n_w1") - F.log("n_w2") - F.log("nb"),
        9,
    )
    return (
        j.select("w1", "w2", "n_pair", "n_w1", "n_w2", pmi_r.alias("pmi_r"))
        .orderBy(F.desc("pmi_r"), "w1", "w2")
        .limit(k)
    )


def readability(docs: DataFrame, text_col: str = "text",
                group_col: str = "lang") -> DataFrame:
    """Per-group pooled Flesch reading-ease profile — the classic
    quality/complexity feature for corpus mixing (pooled, not
    per-doc-averaged, so the statistic is two exact divisions over
    BIGINT totals instead of a mean of 10^12 doubles).

    Counts are all the same split→filter→size Column pattern on the
    lowercased text: words split on non-alphanumeric runs, sentences on
    [.!?]+ runs (minimum 1 per non-empty doc), syllables approximated
    as vowel-group runs [aeiouy]+ — counting them on the WHOLE text
    equals the per-word sum because word separators are non-vowels.
    Flesch = 206.835 − 1.015·(W/S) − 84.6·(Syl/W) with shared literal
    coefficients; engines agree bit-exactly (two correctly-rounded
    divisions on identical BIGINTs, then identical multiply/subtract).

    Shape: pure map-side counting + ONE map-side-combined exchange on
    the group.  Output: (group, n_docs, words, sentences, syllables,
    flesch).
    """
    low = F.lower(F.col(text_col))
    nonempty = lambda arr: F.size(F.filter(arr, lambda t: t != F.lit("")))  # noqa: E731
    words = nonempty(F.split(low, r"[^a-z0-9]+"))
    sentences = F.greatest(F.lit(1), nonempty(F.split(low, r"[.!?]+")))
    syllables = nonempty(F.split(low, r"[^aeiouy]+"))
    agg = (
        docs.where(F.col(text_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            words.cast("long").alias("w"),
            sentences.cast("long").alias("s"),
            syllables.cast("long").alias("y"),
        )
        .groupBy("grp")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("w").alias("words"),
            F.sum("s").alias("sentences"),
            F.sum("y").alias("syllables"),
        )
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("words").cast("double")
                          / F.col("sentences").cast("double"))
        - F.lit(84.6) * (F.col("syllables").cast("double")
                         / F.col("words").cast("double"))
    )
    return agg.select(
        F.col("grp").alias(group_col), "n_docs", "words", "sentences",
        "syllables", flesch.alias("flesch"),
    )
