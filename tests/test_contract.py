"""Driver-contract self-checks: registration consistency and the
external-session defense (cheap guards against future drift)."""

from __future__ import annotations

import __spark_entry__ as entry_mod
from lens_sds_batch_spark.sources import parquet as load_table_mod


def test_registry_consistency():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    # every oracle belongs to a registered query
    assert set(oracles) <= set(qs)
    # flagship + uuid5 flavor registered, BOTH oracle-paired (uuid5
    # since r5: non-hash columns + id well-formedness flags)
    assert "odm_commands" in oracles
    assert "odm_commands_uuid5" in qs and "odm_commands_uuid5" in oracles
    # the whole registry is oracle-paired — a regression to rows-only
    # silently weakens the CORRECTNESS gate, so make it loud
    assert set(oracles) == set(qs), f"rows-only rows reappeared: {set(qs) - set(oracles)}"
    # all builders are callables with the (spark, sf_dir) arity
    for name, fn in qs.items():
        assert callable(fn), name
    # no accidental duplicates between plans and operators
    assert len(qs) == len(set(qs))


def test_engine_confs_reassert_on_load(spark):
    """The driver hands us ITS session: loading any table must force the
    engine-critical runtime confs (UTC + nanosAsLong) even if the
    session was built without them."""
    from lens_sds_batch_spark.sources.parquet import load_events, load_table

    from .conftest import SF_SMOKE

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        load_table(spark, SF_SMOKE, "orders")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        # and the events table is actually readable again
        assert load_events(spark, SF_SMOKE).limit(1).count() == 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_load_table_memoizes_relation_per_session(spark):
    """r14-opt: load_table reuses the source relation within a session
    (metadata/plan reuse — no repeated file listing + footer inference
    per call), while distinct paths stay distinct and the memo never
    caches rows (the returned frame is a plain lazy parquet scan)."""
    from .conftest import SF_SMOKE

    a = load_table_mod.load_table(spark, SF_SMOKE, "orders")
    b = load_table_mod.load_table(spark, SF_SMOKE, "orders")
    assert a is b  # same immutable lazy plan, no re-listing
    c = load_table_mod.load_table(spark, SF_SMOKE, "customer")
    assert c is not a
    # self-join through the shared relation still resolves (Spark's
    # dataset-id disambiguation) and computes real rows
    j = a.join(b.select("o_orderkey"), "o_orderkey").limit(1)
    assert j.count() == 1
    # rows are NOT cached: the plan is a bare parquet scan (no
    # InMemoryRelation anywhere in the analyzed plan)
    assert "InMemoryRelation" not in a._jdf.queryExecution().analyzed().toString()


def test_load_table_memoizes_source_tables_only(spark, tmp_path):
    """r15 (VERDICT r14 #3): the relation memo's read-only contract.
    The memo freezes the file listing at first read, so it must only
    ever serve the static source tables — a name outside TABLES gets a
    fresh read every call (no stale listing if the path is rewritten
    in-session), and nothing the engine writes is ever memoized."""
    from .conftest import SF_SMOKE

    # 1) non-TABLES names bypass the memo entirely
    p = tmp_path / "scratch.parquet"
    spark.range(3).write.parquet(str(p))
    a = load_table_mod.load_table(spark, str(tmp_path), "scratch")
    b = load_table_mod.load_table(spark, str(tmp_path), "scratch")
    assert a is not b
    assert all(k[-1] != str(p) for k in load_table_mod._RELATION_MEMO)
    # and a rewrite of the path is visible to the next load (the exact
    # stale-listing hazard the contract closes)
    spark.range(5).write.mode("overwrite").parquet(str(p))
    assert load_table_mod.load_table(spark, str(tmp_path), "scratch").count() == 5
    # 2) every memoized key is a TABLES source under its sf_dir
    load_table_mod.load_table(spark, SF_SMOKE, "orders")
    table_paths = {f"{t}.parquet" for t in load_table_mod.TABLES}
    assert load_table_mod._RELATION_MEMO  # orders is in it
    for *_, path in load_table_mod._RELATION_MEMO:
        assert path.rsplit("/", 1)[-1] in table_paths, path
    # 3) sibling sessions (newSession shares the applicationId) keep
    #    their own entries: alternating loads are memo hits for both,
    #    and each is served a relation of its own session
    sib = spark.newSession()
    o1 = load_table_mod.load_table(spark, SF_SMOKE, "orders")
    s1 = load_table_mod.load_table(sib, SF_SMOKE, "orders")
    o2 = load_table_mod.load_table(spark, SF_SMOKE, "orders")
    s2 = load_table_mod.load_table(sib, SF_SMOKE, "orders")
    assert o1 is o2 and s1 is s2 and o1 is not s1
    assert o1.sparkSession is spark and s1.sparkSession is sib


def test_failed_warm_up_is_not_retried(spark, monkeypatch, caplog):
    """A warm-up that fails (e.g. no pandas for the Python-worker
    preform) is terminal for the application: the next get_spark
    returns the live session without paying the doomed attempt again,
    and the degraded path is logged exactly once."""
    import logging

    from pyspark.sql import SparkSession

    from lens_sds_batch_spark import session as session_mod

    attempts = []
    real_sql = SparkSession.sql

    def failing_warm_up(self, query, *a, **kw):
        if "Warm" in query:  # the warm-up's ICU probe
            attempts.append(query)
            raise RuntimeError("injected warm-up failure")
        return real_sql(self, query, *a, **kw)

    monkeypatch.setattr(session_mod, "_WARMED", set())  # as if never warmed
    monkeypatch.setattr(session_mod, "_WARNED", set())
    monkeypatch.setattr(SparkSession, "sql", failing_warm_up)
    caplog.set_level(logging.WARNING, logger=session_mod.__name__)
    first = session_mod.get_spark("lens-sds-batch-spark-tests", cpus=8)
    second = session_mod.get_spark("lens-sds-batch-spark-tests", cpus=8)
    assert first is spark and second is spark
    assert len(attempts) == 1
    assert spark.sparkContext.applicationId in session_mod._WARMED
    warnings = [r for r in caplog.records if r.name == session_mod.__name__]
    assert len(warnings) == 1
    assert "warm-up failed" in warnings[0].getMessage()
    assert "injected warm-up failure" in warnings[0].getMessage()


def test_workers_importing_another_package_are_logged(tmp_path):
    """Spark's Python workers import the package from their working
    directory, not from the checkout the driver imported: a process
    whose cwd holds a decoy copy of the package builds its session, and
    the warm-up logs both paths once."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    decoy = tmp_path / "lens_sds_batch_spark"
    decoy.mkdir()
    (decoy / "__init__.py").write_text("")
    code = (
        "import logging, sys\n"
        "sys.path.insert(0, sys.argv[1])\n"
        "logging.basicConfig()\n"
        "from lens_sds_batch_spark.session import get_spark\n"
        "get_spark('decoy-probe', cpus=1).stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(repo)], cwd=tmp_path,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    warned = [ln for ln in out.stderr.splitlines() if "not the driver's" in ln]
    assert len(warned) == 1, out.stderr[-3000:]
    assert os.path.realpath(decoy / "__init__.py") in warned[0]
    assert os.path.realpath(repo / "lens_sds_batch_spark" / "__init__.py") in warned[0]


def test_local_df_fallback_logged_once(spark, monkeypatch, caplog):
    """local_df's pandas→pickled-rows fallback is a degraded path: it
    logs one warning per process, however often it fires, and still
    returns the rows.  The deliberate None-row path is not a
    degradation and logs nothing."""
    import logging

    import pandas as pd

    from lens_sds_batch_spark import session as session_mod

    schema = "a string, b bigint"
    monkeypatch.setattr(session_mod, "_WARNED", set())
    caplog.set_level(logging.WARNING, logger=session_mod.__name__)
    assert session_mod.local_df(spark, [("x", None)], schema).collect()[0]["b"] is None
    assert not [r for r in caplog.records if r.name == session_mod.__name__]

    def broken(*a, **kw):
        raise RuntimeError("injected pandas failure")

    monkeypatch.setattr(pd.DataFrame, "from_records", broken)
    for rows in ([("x", 1)], [("y", 2), ("z", 3)]):
        got = session_mod.local_df(spark, rows, schema).collect()
        assert [tuple(r) for r in got] == rows
    warnings = [r for r in caplog.records if r.name == session_mod.__name__]
    assert len(warnings) == 1
    assert "local_df" in warnings[0].getMessage()
    assert "injected pandas failure" in warnings[0].getMessage()


def test_stream_schema_probe_fallback_logged_once(spark, monkeypatch, caplog, tmp_path):
    """read_event_stream's EVENTS_SCHEMA fallback is a degraded path (no
    ts-type drift protection) and logs once per process.  A missing dir
    is refused before the fallback, so the one warning is left for, and
    names, the empty dir that streams on the pinned schema."""
    import logging

    import pytest
    from pyspark.errors import AnalysisException

    from lens_sds_batch_spark import session as session_mod
    from lens_sds_batch_spark.streaming.pipeline import EVENTS_SCHEMA, read_event_stream

    monkeypatch.setattr(session_mod, "_WARNED", set())
    caplog.set_level(logging.WARNING, logger=session_mod.__name__)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_event_stream(spark, str(tmp_path / "missing"), max_files_per_trigger=1)
    (tmp_path / "empty").mkdir()
    stream = read_event_stream(spark, str(tmp_path / "empty"), max_files_per_trigger=1)
    assert stream.isStreaming
    assert set(stream.columns) >= {c.split()[0] for c in EVENTS_SCHEMA.split(", ")}
    warnings = [r for r in caplog.records if r.name == session_mod.__name__]
    assert len(warnings) == 1
    assert "EVENTS_SCHEMA" in warnings[0].getMessage()
    assert str(tmp_path / "empty") in warnings[0].getMessage()


def test_store_checkpoints_are_audit_visible(spark, tmp_path):
    """The merge store's and the IVM refresh's eager checkpoints go
    through local_ckpt, so the plan audit records them like every other
    package checkpoint."""
    from pyspark.sql import functions as F

    from lens_sds_batch_spark import session as session_mod
    from lens_sds_batch_spark.plans.ivm import refresh_aggregate
    from lens_sds_batch_spark.plans.merge import merge_into

    src, agg = str(tmp_path / "src"), str(tmp_path / "agg")

    def merge(rows):
        batch = spark.createDataFrame(rows, "k string, g string, pri int, dead boolean")
        merge_into(spark, src, batch, keys=["k"], order_cols=["pri"], is_delete=F.col("dead"))

    session_mod.audit_checkpoints(True)
    try:
        merge([("k1", "a", 1, False)])
        merged = session_mod.drain_audit_plans()
        refresh_aggregate(spark, src, agg, group_keys=["g"], aggs={"n": ("count", "*")})
        merge([("k2", "b", 1, False)])
        session_mod.drain_audit_plans()
        refresh_aggregate(spark, src, agg)
        refreshed = session_mod.drain_audit_plans()
    finally:
        session_mod.audit_checkpoints(False)
    assert merged
    # the deltas, the updates and merge_into's own batch checkpoint
    assert len(refreshed) >= 3


def test_manifest_format_stays_in_merge():
    """plans/merge.py owns the on-disk manifest format: no other package
    module imports its private helpers or its app_meta key."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "lens_sds_batch_spark"
    bad = []
    for path in sorted(pkg.rglob("*.py")):
        parts = list(path.relative_to(pkg.parent).with_suffix("").parts)
        if parts == ["lens_sds_batch_spark", "plans", "merge"]:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.ImportFrom):
                continue
            base = parts[: len(parts) - node.level] if node.level else []
            module = ".".join(base + ([node.module] if node.module else []))
            if module != "lens_sds_batch_spark.plans.merge":
                continue
            bad += [
                f"{path.relative_to(pkg.parent)}:{node.lineno}: {a.name}"
                for a in node.names
                if a.name.startswith("_") or a.name == "APP_META_KEY"
            ]
    assert not bad, bad


def test_only_the_store_seam_touches_the_filesystem():
    """plans/merge._Store is the manifest store's one filesystem seam:
    outside it no module under plans/ reaches the JVM gateway (``_jvm``,
    ``_jsc``), names ``org.apache.hadoop``, builds a JVM ``Path``, calls
    a Hadoop ``FileSystem``/``FileStatus`` method or calls ``os.open`` —
    so a test that substitutes the seam sees every filesystem op."""
    import ast
    from pathlib import Path

    hadoop = {"getFileSystem", "listStatus", "getFileStatus", "globStatus",
              "getModificationTime", "getLen", "isDirectory", "getPath",
              "getUri", "hadoopConfiguration", "_jvm", "_jsc"}
    plans = Path(__file__).resolve().parents[1] / "lens_sds_batch_spark" / "plans"
    bad = set()
    for path in sorted(plans.glob("*.py")):
        src = path.read_text()
        tree = ast.parse(src)
        seam = {
            id(n) for c in ast.walk(tree)
            if isinstance(c, ast.ClassDef) and c.name == "_Store"
            and path.name == "merge.py"
            for n in ast.walk(c)
        }
        for node in ast.walk(tree):
            if id(node) in seam:
                continue
            call = ast.unparse(node.func) if isinstance(node, ast.Call) else ""
            if (
                (isinstance(node, ast.Attribute) and node.attr in hadoop)
                or (isinstance(node, ast.Constant) and "org.apache.hadoop" in str(node.value))
                or call in ("os.open", "jvm_path")
                or (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and ast.unparse(node.func.value) == "fs")
            ):
                line = src.splitlines()[node.lineno - 1].strip()
                bad.add(f"plans/{path.name}:{node.lineno}: {line}")
    assert not bad, "\n".join(sorted(bad, key=lambda b: (b.split(":")[0], int(b.split(":")[1]))))


def test_uuid_builders_parse_no_sql():
    """functions/keys builds each id flavor as one composed-Column tree:
    a SQL-string twin parsed by F.expr would need its own literal
    escaping, a parser-mode conf and a node-class gate to pick between
    the two, and could drift from the composed tree unseen."""
    import ast
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "lens_sds_batch_spark" / "functions" / "keys.py"
    calls = [
        f"keys.py:{node.lineno}: {ast.unparse(node.func)}"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and (
            (isinstance(node.func, ast.Attribute) and node.func.attr == "expr")
            or (isinstance(node.func, ast.Name) and node.func.id == "expr")
        )
    ]
    assert not calls, calls


def test_no_package_read_merges_parquet_schemas():
    """Every store read opens its generations under the manifest's
    schema pin (plans/merge._pinned_read).  ``mergeSchema`` would run a
    footer-union job per read instead, and a second way to type the
    same files could drift from the pin unseen.  Docstrings and
    comments may name it; no option, keyword or conf key may set it."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "lens_sds_batch_spark"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            name = (
                node.value if isinstance(node, ast.Constant) and isinstance(node.value, str)
                else node.arg if isinstance(node, ast.keyword) else None
            )
            if name and name.rsplit(".", 1)[-1].lower() == "mergeschema":
                found.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert not found, found


def test_tools_find_their_own_checkout():
    """A tool that puts a literal path on sys.path imports THAT checkout's
    package when run from another one (a parent copy for a plan dump or
    an A/B), and tests import tools.drive_driver.  Every tool derives
    its checkout from its own file instead."""
    import ast
    from pathlib import Path

    tools = sorted((Path(__file__).resolve().parents[1] / "tools").glob("*.py"))
    assert tools
    bad = []
    for path in tools:
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("insert", "append")
                and ast.unparse(node.func.value) == "sys.path"
                and any(isinstance(a, ast.Constant) and isinstance(a.value, str) for a in node.args)
            ):
                bad.append(f"{path.name}:{node.lineno}: {ast.unparse(node)}")
    assert not bad, bad


def test_events_ts_physical_type(spark):
    """Loud canary for testdata drift: the driver's events.parquet `ts`
    physical type changed between rounds (TIMESTAMP(NANOS) r1-2 →
    TIMESTAMP(MICROS, isAdjustedToUTC=false) r3+), which broke a third
    of the contract in r3.  If it shifts again, fail HERE with the
    dtype printed, not deep inside 10 operators."""
    import os

    import pyarrow.parquet as pq

    from lens_sds_batch_spark.sources.parquet import load_events

    handled = {"long", "integer", "timestamp", "timestamp_ntz"}
    checked = 0
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/events.parquet"
        if not os.path.exists(path):
            continue
        checked += 1
        arrow_t = pq.read_schema(path).field("ts").type
        ev = load_events(spark, f"/root/testdata/{sf}")
        spark_t = ev.schema["ts_ns"].dataType.typeName()
        assert spark_t == "long", (
            f"{sf}: ts_ns must be BIGINT, got {spark_t} (parquet ts = {arrow_t})"
        )
        raw_t = spark.read.parquet(path).schema["ts"].dataType.typeName()
        assert raw_t in handled, (
            f"{sf}: events.parquet ts reads as unhandled Spark type {raw_t!r} "
            f"(parquet physical type {arrow_t}) — teach load_events this case"
        )
    assert checked > 0, "no /root/testdata/sf* dirs found — canary checked nothing"


def test_all_queries_analyze(spark):
    """Contract canary: ANALYZE (df.schema) every registry builder at
    sf0.001 in one session.  The r3 break was an analysis-time cast
    error that silently poisoned 10 CORRECTNESS rows + the bench; this
    catches any future loader/type drift in seconds without executing a
    single job."""
    from .conftest import SF_SMOKE

    failures = {}
    for name, fn in entry_mod.queries().items():
        try:
            df = fn(spark, SF_SMOKE)
            assert len(df.schema.fields) > 0
        except Exception as e:  # noqa: BLE001
            failures[name] = f"{type(e).__name__}: {str(e)[:200]}"
    assert not failures, f"{len(failures)} builders fail analysis: {failures}"


def test_load_events_integral_fastpath_equivalence(spark, tmp_path):
    """Both physical flavors the testdata has shipped must canonicalize
    to IDENTICAL ts_ns: TIMESTAMP(NANOS) (read as int64 under
    nanosAsLong -> bigint fast-path) vs TIMESTAMP(MICROS, ntz) (the
    unix_micros conversion path).  Writes the same instants both ways
    with pyarrow and diffs the loader output — pins the branch the
    current testdata never exercises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lens_sds_batch_spark.sources.parquet import load_events

    micros = [1704067200_000_000, 1704070800_123_456, 1706659032_194_062]
    cols = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([10, 20, 30], pa.int64()),
        "event_type": pa.array(["a", "b", "c"]),
        "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        "props": pa.array(["{}", "{}", "{}"]),
    }
    d_nanos = tmp_path / "nanos"
    d_ntz = tmp_path / "ntz"
    for d, ts_arr in (
        (d_nanos, pa.array([m * 1000 for m in micros], pa.timestamp("ns"))),
        (d_ntz, pa.array(micros, pa.timestamp("us"))),
    ):
        d.mkdir()
        t = pa.table({"event_id": cols["event_id"], "ts": ts_arr, **{
            k: v for k, v in cols.items() if k != "event_id"}})
        pq.write_table(t, str(d / "events.parquet"))

    a = load_events(spark, str(d_nanos))
    b = load_events(spark, str(d_ntz))
    # the nanos file must actually take the integral fast-path
    assert spark.read.parquet(str(d_nanos / "events.parquet")).schema["ts"].dataType.typeName() == "long"
    got_a = {r["event_id"]: r["ts_ns"] for r in a.collect()}
    got_b = {r["event_id"]: r["ts_ns"] for r in b.collect()}
    want = {i + 1: m * 1000 for i, m in enumerate(micros)}
    assert got_a == want
    assert got_b == want


def test_tpch_arm_registry_matches_pack(spark):
    """TPCH_ARMS is the single source of tpch_pack's arm inventory; a
    pack arm missing from it would be invisible to anything that walks
    the arms (and vice versa, a registry entry the pack dropped would
    name a stale arm).  Pin kinds == registry keys."""
    from lens_sds_batch_spark.operators.relational import TPCH_ARMS, tpch_pack

    from .conftest import SF_SMOKE

    kinds = {r["kind"] for r in tpch_pack(spark, SF_SMOKE).select("kind").distinct().collect()}
    # q7 (disjunctive nation-pair predicate) and q11 (value > total/1500
    # threshold) are legitimately EMPTY at sf0.001 — both arms are
    # non-empty and hash-green at the sf0.01 driver gate — so their
    # kinds can be absent here, but nothing else may be, and no kind
    # may exist outside the registry.
    assert kinds <= set(TPCH_ARMS)
    assert set(TPCH_ARMS) - kinds <= {"q7", "q11"}


def test_every_operator_builder_runs_in_a_query():
    """An operator arm lives once, in the query that runs it: every
    public top-level ``def f(spark, sf_dir, ...)`` in operators/*.py is
    a registered query (a module's QUERIES), a TPCH_ARMS arm, or called
    from other package code.  Private helpers are exempt
    (``xml_ingest._subset_rows`` is the reference the ODM XML
    differential test compares against)."""
    import ast
    import pathlib

    import lens_sds_batch_spark
    from lens_sds_batch_spark.operators import registry
    from lens_sds_batch_spark.operators.relational import TPCH_ARMS

    root = pathlib.Path(lens_sds_batch_spark.__file__).parent
    reached = {fn.__name__ for fn in TPCH_ARMS.values()}
    for m in registry._modules():
        reached |= {fn.__name__ for fn, _ in m.QUERIES.values()}
    for path in root.rglob("*.py"):
        for node in ast.parse(path.read_text()).body:
            owner = getattr(node, "name", None)  # a function calling itself is no caller
            for call in ast.walk(node):
                if isinstance(call, ast.Call):
                    f = call.func
                    name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                    if name != owner:
                        reached.add(name)

    orphans = []
    for path in sorted((root / "operators").glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                continue
            params = [a.arg for a in node.args.args[:2]]
            if params == ["spark", "sf_dir"] and node.name not in reached:
                orphans.append(f"{path.stem}.{node.name}")
    assert not orphans, f"operator builders no query, arm or package code runs: {orphans}"


def test_probe_coverage_is_total_and_enforced(monkeypatch):
    """r10 verdict #6: power probes are colocated with each module's
    QUERIES and aggregated by registry.all_probes(), which must (a)
    cover every registered query plus the two flagships, and (b) FAIL
    LOUDLY if a query ships probe-less — simulated here by blanking one
    module's PROBES."""
    import pytest

    from lens_sds_batch_spark.operators import dedup, registry

    probes = registry.all_probes()
    covered = {q for (q, _, _) in probes.values()}
    expected = set(registry.all_queries()) | {"odm_commands", "odm_commands_uuid5"}
    assert covered == expected
    # every probe is well-formed SQL-bearing spec
    for name, (query, kind, sql) in probes.items():
        assert kind in ("corpus", "oracle") and "SELECT" in sql.upper(), name
        if kind == "oracle":
            assert "FROM t" in sql, f"{name}: oracle probe must read FROM t"

    monkeypatch.setattr(dedup, "PROBES", {})
    with pytest.raises(ValueError, match="NO power probe"):
        registry.all_probes()


def test_rank_math_percentile_equals_builtin(spark):
    """rank_math_percentiles (the r14-opt replacement for the buffering
    exact `percentile()` aggregate inside approx_sketches) must return
    BIT-IDENTICAL doubles to the builtin on randomized data with heavy
    ties and NULLs — the interpolation mirrors Percentile.getPercentile
    term-for-term, so equality is exact, not approximate."""
    import random

    from pyspark.sql import functions as F

    from lens_sds_batch_spark.operators.relational import (
        rank_math_percentiles,
    )

    rng = random.Random(1405)
    rows = []
    # None group key: a REAL group for the builtin (and for window
    # partitioning) — must survive the helper's internal joins
    for g in ["A", "B", "C", "D", None]:
        n = rng.choice([1, 2, 7, 100, 1001])
        for _ in range(n):
            # coarse grid => many exact ties; ~10% NULLs
            v = None if rng.random() < 0.1 else round(rng.uniform(0, 50), 1)
            rows.append((g, v))
    # one fully-tied group (every value identical: the mass-tie bucket
    # short-circuit) and a two-point group
    rows += [("T", 7.0)] * 500 + [("U", 1.0), ("U", 2.0)]
    rows.append(("E", None))  # all-NULL group: builtin yields NULL
    df = spark.createDataFrame(rows, "g string, v double")

    ps = [(0.0, "p00"), (0.25, "p25"), (0.45, "p45"), (0.5, "p50"),
          (0.55, "p55"), (0.9, "p90"), (1.0, "p100")]
    builtin = df.groupBy("g").agg(
        *[F.expr(f"percentile(v, {p})").alias(a) for p, a in ps]
    )
    ours = rank_math_percentiles(df, "g", "v", ps)

    b = {r["g"]: r for r in builtin.collect()}
    o = {r["g"]: r for r in ours.collect()}
    assert set(b) == set(o) | {"E"}  # all-NULL group absent from ours
    assert b["E"]["p50"] is None
    for g, row in o.items():
        for _p, a in ps:
            assert row[a] == b[g][a], (g, a, row[a], b[g][a])
