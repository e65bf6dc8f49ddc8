import pytest


def test_coverage_doc_cites_every_query():
    """COVERAGE.md's inventory must stay line-by-line checkable: every
    registered query name appears verbatim (backtick-quoted) somewhere."""
    import pathlib

    from spark_streaming_twitter_spark.registry import load_all

    cov = (
        pathlib.Path(__file__).resolve().parents[1] / "COVERAGE.md"
    ).read_text()
    missing = [n for n in load_all() if f"`{n}`" not in cov]
    assert not missing, f"uncited in COVERAGE.md: {missing}"


def test_coverage_doc_headline_count_matches_registry():
    """The prose query count in COVERAGE.md drifted twice (r6: 206, r7: 226);
    pin it to the registry via an explicit QUERY_COUNT marker so adding a
    query without bumping the header fails loudly (VERDICT r7 ask #2)."""
    import pathlib
    import re

    from spark_streaming_twitter_spark.registry import load_all

    cov = (
        pathlib.Path(__file__).resolve().parents[1] / "COVERAGE.md"
    ).read_text()
    m = re.search(r"<!--QUERY_COUNT-->(\d+)<!--/QUERY_COUNT-->", cov)
    assert m, "COVERAGE.md is missing the QUERY_COUNT marker"
    assert int(m.group(1)) == len(load_all()), (
        f"COVERAGE.md says {m.group(1)} queries but the registry has "
        f"{len(load_all())} — update the header marker"
    )


def test_gate_order_fronts_driver_unproven_queries():
    """The gate queue must self-rotate (VERDICT r8 ask #1, refined r9 #1):
    a query named green in any committed CORRECTNESS_r*.json sorts after
    every query that is not, so the driver's ~50-slot gate always reaches
    new debt without a manual rotation commit. Within the proven bucket,
    OLDEST evidence sorts first (staleness re-verification rotation) — so
    the test has a non-vacuous assertion even in the zero-debt goal state
    round 9 reached, instead of hard-failing on `assert unproven`."""
    from spark_streaming_twitter_spark.registry import (
        _RECHECK_FIRST,
        _driver_green_rounds,
        load_all,
    )

    rounds = _driver_green_rounds()
    assert rounds, "no committed CORRECTNESS_r*.json rows parsed"
    order = list(load_all())
    # semantics-changed names re-enter the unproven tier regardless of
    # their (now-stale) green rows — the gate must re-prove them
    unproven = [
        n for n in order if n not in rounds or n in set(_RECHECK_FIRST)
    ]
    proven = [n for n in order if n in rounds and n not in set(_RECHECK_FIRST)]
    if unproven:
        last_unproven = max(order.index(n) for n in unproven)
        first_proven = min(order.index(n) for n in proven)
        assert last_unproven < first_proven, (
            f"proven query {order[first_proven]!r} sorts before unproven "
            f"{order[last_unproven]!r}"
        )
    # freshness rotation: proven queries are non-decreasing in their
    # newest-green round, so the stalest evidence is re-verified first
    proven_rounds = [rounds[n] for n in proven]
    assert proven_rounds == sorted(proven_rounds), (
        "proven bucket is not ordered oldest-evidence-first"
    )


def test_gate_order_rotates_stalest_evidence_first(tmp_path, monkeypatch):
    """Synthetic zero-debt state: every query green somewhere, the gate
    fronts the one whose newest green row is oldest."""
    import json

    import spark_streaming_twitter_spark.registry as reg

    root = tmp_path / "repo"
    pkg = root / "pkg"
    pkg.mkdir(parents=True)
    green_row = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "err": None,
    }
    (root / "CORRECTNESS_r01.json").write_text(
        json.dumps({"old_a": green_row, "old_b": green_row})
    )
    (root / "CORRECTNESS_r03.json").write_text(
        json.dumps({"old_b": green_row, "fresh": green_row})
    )
    monkeypatch.setattr(reg, "__file__", str(pkg / "registry.py"))
    rounds = reg._driver_green_rounds()
    assert rounds == {"old_a": 1, "old_b": 3, "fresh": 3}
    order = reg.gate_order({"old_a", "old_b", "fresh"})
    assert order[0] == "old_a", f"stalest row not fronted: {order}"


def test_gate_order_ignores_failing_driver_rows(tmp_path, monkeypatch):
    """A failing driver row must NOT count as proven — the query stays at
    the front of the queue for a retry."""
    import json

    import spark_streaming_twitter_spark.registry as reg

    root = tmp_path / "repo"
    pkg = root / "pkg"
    pkg.mkdir(parents=True)
    (root / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "good": {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": True,
                    "err": None,
                },
                "bad_hash": {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": False,
                    "err": None,
                },
                "bad_err": {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": True,
                    "err": "boom",
                },
            }
        )
    )
    monkeypatch.setattr(reg, "__file__", str(pkg / "registry.py"))
    green = reg._driver_green_names()
    assert green == frozenset({"good"})


def test_bpe_sentinel_replace_is_greedy_leftmost_merge():
    """The wrap-each-symbol sentinel encoding's core claim (text/corpus.py):
    plain string replace of '_a__b_' with '_ab_' implements EXACTLY the
    greedy-leftmost non-overlapping pair merge BPE specifies, for any
    symbol sequence — including the adjacent-run case ('aaaa' -> 'aa','aa')
    and multi-char symbols from earlier merges. Property-tested against a
    reference Python merge."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    SYMS = ["a", "b", "ab", "ba", "aa", "bb", "aab"]

    def ref_merge(symbols, a, b):
        out, i = [], 0
        while i < len(symbols):
            if (
                i + 1 < len(symbols)
                and symbols[i] == a
                and symbols[i + 1] == b
            ):
                out.append(a + b)
                i += 2
            else:
                out.append(symbols[i])
                i += 1
        return out

    @settings(max_examples=300, deadline=None)
    @given(
        syms=st.lists(st.sampled_from(SYMS), min_size=0, max_size=10),
        a=st.sampled_from(SYMS),
        b=st.sampled_from(SYMS),
    )
    def check(syms, a, b):
        rep = "".join(f"_{s}_" for s in syms)
        merged_rep = rep.replace(f"_{a}__{b}_", f"_{a}{b}_")
        got = re.findall(r"_([^_]+)_", merged_rep)
        assert got == ref_merge(syms, a, b), (syms, a, b, got)

    check()


def test_package_starts_no_thread_pool():
    """No package module uses a ThreadPoolExecutor: every registered
    query runs its streams one after another on the caller's thread, so
    running queries concurrently on one session (what the shuffle-pin
    lock in streaming/harness.py guards) is a caller's choice, never
    the package's."""
    import ast
    import pathlib

    import spark_streaming_twitter_spark

    root = pathlib.Path(spark_streaming_twitter_spark.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            name = (
                getattr(node, "id", None)
                or getattr(node, "attr", None)
                or (node.name if isinstance(node, ast.alias) else None)
            )
            if name == "ThreadPoolExecutor":
                hits.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not hits, f"ThreadPoolExecutor in the package: {hits}"


def test_dedup_has_one_stateful_processor():
    """Every self and TTL dedup stream, text and media, runs the one
    StatefulProcessor of streaming/bucket_state.py: a second subclass in
    the dedup or multimodal packages would be a hand copy of the
    per-bucket rules in streaming/bucket_rules.py."""
    import ast
    import pathlib

    import spark_streaming_twitter_spark

    root = pathlib.Path(spark_streaming_twitter_spark.__file__).parent
    paths = [
        path
        for pattern in ("dedup/*.py", "multimodal/*.py", "streaming/bucket_state.py")
        for path in sorted(root.glob(pattern))
    ]
    hits = [
        f"{path.relative_to(root)}:{node.lineno} {node.name}"
        for path in paths
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.ClassDef)
        and any(
            getattr(b, "id", None) == "StatefulProcessor"
            or getattr(b, "attr", None) == "StatefulProcessor"
            for b in node.bases
        )
    ]
    assert len(hits) == 1, f"dedup StatefulProcessor subclasses: {hits}"


def _alias_self_joins(root) -> "list[str]":
    """``<name>.alias("a")`` calls on a DataFrame variable in the dedup,
    multimodal and text packages, outside dedup/pairs.py."""
    import ast

    return [
        f"{path.relative_to(root)}:{node.lineno}"
        for pattern in ("dedup/*.py", "multimodal/*.py", "text/*.py")
        for path in sorted(root.glob(pattern))
        if path.relative_to(root).as_posix() != "dedup/pairs.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "alias"
        and isinstance(node.func.value, ast.Name)
        and [getattr(a, "value", None) for a in node.args] == ["a"]
    ]


def test_pair_scorers_share_one_self_join():
    """Every batch near-dup scorer takes its candidate pairs from the one
    shared-key self-join of dedup/pairs.py (``a.id < b.id``, each pair
    once): a DataFrame aliased ``a`` elsewhere is a hand copy of that
    rule."""
    import pathlib

    import spark_streaming_twitter_spark

    root = pathlib.Path(spark_streaming_twitter_spark.__file__).parent
    hits = _alias_self_joins(root)
    assert not hits, f"hand-written self-joins outside dedup/pairs.py: {hits}"


def _functions_using(root) -> "dict[str, set[str]]":
    """The package functions (``path::qualname``) that name ``writeStream``,
    enter a ``_scoped_shuffle_partitions`` scope, or call ``mkdtemp``."""
    import ast

    found: "dict[str, set[str]]" = {
        "writeStream": set(),
        "_scoped_shuffle_partitions": set(),
        "mkdtemp": set(),
    }

    def called(node) -> "str | None":
        if isinstance(node, ast.Call):
            f = node.func
            return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        return None

    def visit(node, path: str, scope: str) -> None:
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
            where = f"{path}::{inner}"
            if isinstance(child, ast.Attribute) and child.attr == "writeStream":
                found["writeStream"].add(where)
            if isinstance(child, ast.withitem) and (
                called(child.context_expr) == "_scoped_shuffle_partitions"
            ):
                found["_scoped_shuffle_partitions"].add(where)
            if called(child) == "mkdtemp":
                found["mkdtemp"].add(where)
            visit(child, path, inner)

    for path in sorted(root.rglob("*.py")):
        visit(ast.parse(path.read_text()), path.relative_to(root).as_posix(), "")
    return found


def test_one_stream_shell_and_scoped_work_dirs():
    """Every streaming query starts in ``harness.run_stream``: it is the one
    function that builds a ``writeStream`` and the one that enters the
    shuffle-partition pin, so every query runs pinned and stopped. Every
    work dir is a ``TemporaryDirectory`` scope; only the fixture spool,
    whose build dir must outlive the call until its atomic rename, calls
    ``mkdtemp``."""
    import pathlib

    import spark_streaming_twitter_spark

    root = pathlib.Path(spark_streaming_twitter_spark.__file__).parent
    shell = {"streaming/harness.py::run_stream"}
    assert _functions_using(root) == {
        "writeStream": shell,
        "_scoped_shuffle_partitions": shell,
        "mkdtemp": {"catalog.py::spool_fixture"},
    }


def _package_modules() -> "list[str]":
    import pathlib

    import spark_streaming_twitter_spark

    root = pathlib.Path(spark_streaming_twitter_spark.__file__).parent
    return sorted(
        ".".join(path.relative_to(root).with_suffix("").parts)
        for path in root.rglob("*.py")
        if path.name != "__init__.py"
    )


@pytest.mark.parametrize("module", _package_modules())
def test_module_imports_on_its_own(module):
    """A Python worker unpickling a package function imports its module
    first, in a fresh interpreter, with no ``load_all``: every module must
    register cleanly on its own, including the oracles it embeds from
    other modules (phash's from dedup, text.corpus's from phash)."""
    import pathlib
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-c", f"import spark_streaming_twitter_spark.{module}"],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=pathlib.Path(__file__).resolve().parents[1],
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


def test_registry_names_and_oracles_pinned():
    """The oracle contract is pinned: 376 registered names, and the
    sha256 over the sorted names (each name's bytes, then its oracle's
    bytes, empty for rows-only) is unchanged. A refactor that moves code
    between modules must not change a single oracle byte."""
    import hashlib

    from spark_streaming_twitter_spark.registry import load_all
    from spark_streaming_twitter_spark.streaming.queries import (
        _protobuf_available,
    )

    if not _protobuf_available():
        pytest.skip("the tws names register only with protobuf available")
    specs = load_all()
    h = hashlib.sha256()
    for name in sorted(specs):
        h.update(name.encode())
        h.update((specs[name].oracle or "").encode())
    assert len(specs) == 376
    assert h.hexdigest() == (
        "87af2fcdea5df0518d53719fc90596778edee1b6f39b928e348bd4496873acc6"
    )
