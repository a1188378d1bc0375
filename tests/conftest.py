from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from themis_tritonsort_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="themis-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def graph_paths(monkeypatch):
    """Iterate it to run a test body once per path of the graph
    operators' one-partition rule (``components.driver_table``):
    "driver" with the rule answering as it does, where it must hand
    back a table every time (the graphs under test are small), then
    "loop" with the rule answering None, which forces the distributed
    loop.  Each pass prints its path, so a failure's captured output
    names it."""
    from themis_tritonsort_spark.operators import components

    real = components.driver_table

    def passes():
        for path, answer in (("driver", real), ("loop", lambda df, rows: None)):
            seen: list = []

            def consult(df, rows=None):
                seen.append(answer(df, rows))
                return seen[-1]

            with monkeypatch.context() as patch:
                patch.setattr(components, "driver_table", consult)
                print(f"graph path: {path}")
                yield path
            assert seen, f"no graph operator consulted the rule ({path})"
            assert path == "loop" or all(t is not None for t in seen)

    it = passes()
    yield it
    it.close()
