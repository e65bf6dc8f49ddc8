from __future__ import annotations

import pytest

from spark_streaming_twitter_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(autouse=True)
def _release_staged_persists():
    """Unpersist the staging relations a test's queries registered
    (catalog.stage) once the test ends, so cached prepared corpora do not
    accumulate over the session the way they would outside bench.py."""
    yield
    from spark_streaming_twitter_spark.catalog import release_staged

    release_staged()


def pytest_collection_modifyitems(config, items):
    """Mark the measured-heavyweight tests from tests/slow_manifest.txt
    (r13 verdict #7; scope corrected r15 — the manifest now also lists
    the parametrized oracle-parity base nodeids, so the FAST path
    `pytest tests/ -m "not slow"` really is minutes, not the ~30-minute
    run the r14 manifest silently selected). The FULL set — fast path
    plus the end-to-end streaming/flagship invariants plus the ~370
    parity checks — must still exit 0, is what `python -m pytest tests/`
    runs by default, and is proven once per round by the committed
    `bench_artifacts/r{N}_pytest_full.txt` run on final code. The
    manifest holds nodeids (param brackets stripped) of tests that
    measured >= 3 s in the committed duration profile; regenerate with
      pytest tests/ -q --durations=0
    plus the two test_oracle_parity.py base nodeids, which stay listed
    regardless of profile.
    """
    import pathlib

    manifest = pathlib.Path(__file__).parent / "slow_manifest.txt"
    if not manifest.exists():
        return
    slow = set(manifest.read_text().split())
    for item in items:
        base = item.nodeid.split("[")[0]
        if base in slow or item.nodeid in slow:
            item.add_marker(pytest.mark.slow)
