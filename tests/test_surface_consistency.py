"""Driver-surface consistency: the things the grader cross-checks must
never drift — every query has an oracle, every bench name is real, and
COVERAGE.md's gate total equals the actual surface.
"""

from __future__ import annotations

import re


def _entry():
    import __spark_entry__ as e

    return e


def test_every_query_has_an_oracle():
    e = _entry()
    q, o = e.queries(), e.oracle_sql()
    assert set(q) == set(o), (
        f"missing oracles: {sorted(set(q) - set(o))}; "
        f"orphan oracles: {sorted(set(o) - set(q))}"
    )


def test_bench_lists_reference_real_queries():
    import bench

    q = set(_entry().queries())
    for name in bench.BENCH_QUERIES + bench.EXTRA_QUERIES:
        assert name in q, f"bench names unknown query {name}"
    assert not set(bench.BENCH_QUERIES) & set(bench.EXTRA_QUERIES)


def test_coverage_gate_total_matches_surface():
    n = len(_entry().queries())
    cov = open("COVERAGE.md").read()
    m = re.search(r"\*\*Gate total: (\d+) queries, ALL hash-exact\*\*", cov)
    assert m, "COVERAGE.md gate-total line missing"
    assert int(m.group(1)) == n, (
        f"COVERAGE.md claims {m.group(1)} gated queries, surface has {n}"
    )
    readme = open("README.md").read()
    m2 = re.search(r"every one of the (\d+) `queries\(\)` entries", readme)
    assert m2 and int(m2.group(1)) == n, "README gate count drifted"


def test_sf01_sweep_file_covers_every_query():
    q = set(_entry().queries())
    lines = {
        ln.split(":")[0]
        for ln in open("BENCH/GATE_SF0.1.txt")
        if ":" in ln
    }
    assert q <= lines, f"queries missing from sf0.1 sweep: {sorted(q - lines)}"


def _package_sources():
    import pathlib

    for path in sorted(pathlib.Path("jsonld_ex_spark").rglob("*.py")):
        yield path.as_posix(), path.read_text(encoding="utf-8")


def test_session_level_conf_and_memo_keys_live_in_one_module():
    """Every shuffle-width write goes through partitioning.capped_shuffle
    and every applicationId read through partitioning.session_memo, so
    the cap rule and the memo lifecycle cannot drift per call site."""
    home = "jsonld_ex_spark/functions/partitioning.py"
    conf_set = re.compile(r"conf\.set\(\s*[\"']spark\.sql\.shuffle\.partitions")
    app_id = re.compile(r"\.applicationId\b")
    sets = [p for p, src in _package_sources() if conf_set.search(src)]
    reads = [p for p, src in _package_sources() if app_id.search(src)]
    assert sets == [home], f"shuffle.partitions set outside {home}: {sets}"
    assert reads == [home], f"applicationId read outside {home}: {reads}"
