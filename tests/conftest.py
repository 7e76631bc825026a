import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from geomatics_geotk_spark import get_spark

    s = get_spark(app="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def assert_bounded_rankings(plan: str, n_rankings: int) -> None:
    """Every per-group ``row_number() <= k`` ranking in a formatted plan
    is bounded by Catalyst's WindowGroupLimit pair, with no salt column.

    Each Window sits on a final WindowGroupLimit.  A ranking that
    shuffles has exactly one window exchange, with a partial
    WindowGroupLimit below it, so the exchange carries at most k rows per
    group per input partition.  A ranking whose input is already
    partitioned by the previous ranking (a rerank of an ANN pool) adds
    neither an exchange nor a partial limit.  The partial limit exists
    only for k <= spark.sql.optimizer.windowGroupLimitThreshold.
    """
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert len(specs) == n_rankings, specs
    assert not any("salt" in s for s in specs), specs
    # physical-tree node names in pre-order: a node with one child is
    # followed directly by that child
    tree = re.findall(r"^[ :|+-]*(\S.*?) +\(\d+\)$", plan.split("\n\n")[0], re.M)
    window_exchanges = 0
    for i, name in enumerate(tree):
        if name != "Window":
            continue
        below = tree[i + 1:i + 5]
        assert below[:2] == ["WindowGroupLimit", "Sort"], (below, plan)
        if below[2] == "Exchange":
            assert below[3] == "WindowGroupLimit", (below, plan)
            window_exchanges += 1
    assert window_exchanges == 1, plan
    assert len(re.findall(r"\(\d+\) WindowGroupLimit", plan)) == n_rankings + 1, plan
