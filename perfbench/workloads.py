"""The benchmark's workloads.  Each one is a closed loop with a single
client: a request is sent only after the previous one has returned and
its output has been checked.

A workload's requests come in ``kinds`` that repeat in a fixed cycle.
The first ``warmup`` requests (at least one of each kind) are checked
but not timed as requests: they pay the one-time JVM, codegen and first-path costs,
which set-up time reports.  ``prepare`` is the rest of a workload's
set-up (renders, expected outputs); ``op`` is one request and returns
``(kind, items, ok, note)``.  Work an op does for its own output check
is added to ``untimed_s`` and left out of the request's latency.  With
``bad=True`` a request is checked against a corrupted expectation, with
``fail=True`` it makes a call into the package raise, so the
benchmark's self-test can prove both are counted as failed.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import random
import time

from pyspark.sql import functions as F

from lens_sds_batch_spark.plans.commands import COMMAND_COLUMNS, PER_FILE, generate_commands
from lens_sds_batch_spark.plans.odm import BATCH_CMD_ID, SUB, fused_commands
from spans import catalyst_seconds

HERE = os.path.dirname(os.path.abspath(__file__))
SEP, NUL = "\x1f", "\x00"
NOHASH_COLUMNS = [c for c in COMMAND_COLUMNS if c not in ("cmd_id", "parent_id", "item_id")]


# ---------------------------------------------------------------------------
# Order-independent digests: (row count, sum of the first 60 bits of the
# md5 of each row's canonical string).  Spark, DuckDB and Python compute
# the same value for string and integer columns.
# ---------------------------------------------------------------------------

def _row_md5(cols):
    s = F.concat_ws(SEP, *[F.coalesce(F.col(c).cast("string"), F.lit(NUL)) for c in cols])
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("decimal(20,0)")


def spark_digest(df, cols, *extra) -> tuple:
    """One action: (count, md5 sum, *extra aggregates) of ``df``."""
    row = df.withColumn("__h", _row_md5(cols)).agg(F.count(F.lit(1)), F.sum("__h"), *extra).collect()[0]
    return (int(row[0]), int(row[1] or 0), *row[2:])


def py_digest(rows) -> tuple[int, int]:
    n = h = 0
    for r in rows:
        s = SEP.join(NUL if v is None else str(v) for v in r)
        h += int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        n += 1
    return n, h


def duck_digest(con, sql: str, cols) -> tuple[int, int]:
    row = ", ".join(f"coalesce(CAST({c} AS VARCHAR), chr(0))" for c in cols)
    n, h = con.execute(
        f"SELECT count(*), sum(('0x' || substr(md5(concat_ws(chr(31), {row})), 1, 15))"
        f"::UBIGINT::HUGEINT) FROM ({sql})"
    ).fetchone()
    return int(n), int(h or 0)


def _canon(v) -> str:
    """The repository's oracle canonical form of one value: NULL and
    NaN read ``NULL``, floats are compared to six decimals."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    return f"{v:.6f}" if isinstance(v, float) else str(v)


def canon_digest(cols, rows) -> tuple[int, int]:
    """Digest of result rows in canonical form, columns in name order,
    so a Spark result and its DuckDB oracle twin compare equal."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return py_digest([tuple(_canon(r[i]) for i in order) for r in rows])


def load_golden() -> dict:
    with open(os.path.join(HERE, "golden.json")) as f:
        return json.load(f)


def duck_views(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


class Ctx:
    """What a workload needs from the run."""

    def __init__(self, spark, tracer, run_dir: str, data_dir: str, sf: float, seed: int):
        self.spark, self.tr = spark, tracer
        self.run_dir, self.data_dir = run_dir, data_dir
        self.sf = sf
        self.rng = random.Random(seed)


# ---------------------------------------------------------------------------
# bulk_import: whole-corpus passes -- the flagship fused command plan in
# both id flavors, and a pass of curation operators over the documents
# ---------------------------------------------------------------------------

# (module, query) of the operators pass: the queries that carry ROADMAP
# items (simhash, the sketches, the text and doc-feature packs) plus one
# minhash and one kNN query, so every operator family is in the pass
OPERATORS = (
    ("dedup", "dedup_minhash_pairs"),
    ("dedup", "simhash_dup_pairs"),
    ("similarity", "knn_pack"),
    ("textops", "text_pack"),
    ("textops", "doc_features_pack"),
    ("relational", "approx_sketches"),
)
N_DOCS = 200


def _operator_query(module: str, query: str):
    import importlib

    return importlib.import_module(f"lens_sds_batch_spark.operators.{module}").QUERIES[query]


class BulkImport:
    name = "bulk_import"
    n_docs = N_DOCS

    def __init__(self, ctx: Ctx):
        self.c = ctx
        first = ctx.rng.randrange(3)
        self.kinds = ["md5", "sha1", "curation"][first:] + ["md5", "sha1", "curation"][:first]
        self.warmup = len(self.kinds)
        self.untimed_s = 0.0

    def prepare(self) -> dict:
        """Expected outputs from the package's DuckDB oracle twins:
        ``oracle.odm_commands_sql()`` for md5 (all 14 command columns),
        ``oracle.odm_commands_nohash_sql()`` for sha1 (the 11 columns
        without ids), and each operator query's registered SQL."""
        from lens_sds_batch_spark import oracle

        con = duck_views(self.c.data_dir, ("customer", "orders", "lineitem", "documents", "embeddings"))
        self.want = {
            "md5": duck_digest(con, oracle.odm_commands_sql(), COMMAND_COLUMNS),
            "sha1": duck_digest(con, oracle.odm_commands_nohash_sql(), NOHASH_COLUMNS),
        }
        for module, query in OPERATORS:
            rows = con.execute(_operator_query(module, query)[1]).fetchall()
            self.want[query] = canon_digest([d[0] for d in con.description], rows)
        con.close()
        return {"commands_per_import": self.want["md5"][0]}

    def _wellformed(self, c):
        return (F.length(c) == 36) & (F.substring(c, 15, 1) == "5") & F.substring(c, 20, 1).isin(*"89ab")

    def op(self, i: int, bad: bool = False, fail: bool = False):
        kind = self.kinds[i % len(self.kinds)]
        # a missing input directory makes the package's table loads raise
        data_dir = os.path.join(self.c.data_dir, "missing") if fail else self.c.data_dir
        if kind == "curation":
            return self._curation(i, bad, data_dir)
        tr = self.c.tr
        with tr.span(f"plans.odm.fused_commands.{kind}.build", op=i):
            cmds = fused_commands(self.c.spark, data_dir, BATCH_CMD_ID, SUB, flavor=kind)
        want = self.want[kind]
        with tr.span(f"plans.odm.fused_commands.{kind}.drain", op=i):
            if kind == "md5":
                got = spark_digest(cmds, COMMAND_COLUMNS)
                ok = got == (want[0] + bad, want[1])
            else:
                ids_ok = (self._wellformed(F.col("cmd_id")) & self._wellformed(F.col("parent_id"))
                          & (F.col("item_id").isNull() | self._wellformed(F.col("item_id"))))
                got = spark_digest(cmds, NOHASH_COLUMNS, F.min(ids_ok.cast("int")))
                ok = got[:2] == (want[0] + bad, want[1]) and got[2] == 1
        return kind, got[0], ok, f"{kind}: {got[0]} commands"

    def _curation(self, i: int, bad: bool, data_dir: str):
        """One pass of the operator queries over the documents and
        embeddings: each query built, collected and checked against its
        oracle twin's digest."""
        tr, spark = self.c.tr, self.c.spark
        failed = []
        for module, query in OPERATORS:
            name = f"operators.{module}.{query}"
            with tr.span(name + ".build", op=i):
                df = _operator_query(module, query)[0](spark, data_dir)
            with tr.span(name + ".drain", op=i):
                rows = df.collect()
            t = time.perf_counter()
            got = canon_digest(df.columns, rows)
            self.untimed_s += time.perf_counter() - t
            if got != (self.want[query][0] + bad, self.want[query][1]):
                failed.append(query)
        return "curation", self.n_docs, not failed, f"curation: {len(OPERATORS)} queries, failed {failed}"


# ---------------------------------------------------------------------------
# entity_store: the reference's cascade -- one ODM XML file imported to
# commands per step, its item commands merged into a manifest-protocol
# item-state table beside point lookups, the change feed, an IVM
# refresh, a full scan and maintenance
# ---------------------------------------------------------------------------

KEYS = ["study_oid", "subject_key", "study_event_oid", "form_oid", "item_oid"]
STATE_COLS = KEYS + ["value", "seq"]
GROUP_KEYS = ["study_oid", "form_oid"]
ITEM_COMMANDS = ("odm-import/insert-item", "odm-import/update-item", "odm-import/upsert-item")
XML_FILES = 4  # render fan: the step cycles through these files
LOOKUP_KEYS = 200


def render_corpus(ctx: Ctx, out_dir: str) -> list[tuple[str, str]]:
    """Render the ODM XML corpus of the synthetic tables into
    ``out_dir``: ``XML_FILES`` valid files plus the malformed one, as
    (file_oid, glob) sorted by file_oid."""
    from lens_sds_batch_spark.operators.xml_ingest import render_odm_xml

    with ctx.tr.span("operators.xml_ingest.render_odm_xml"):
        pattern = render_odm_xml(ctx.spark, ctx.data_dir, out_dir, XML_FILES)
    dirs = sorted({os.path.dirname(p) for p in glob.glob(pattern)})
    return [(d.rsplit("=", 1)[-1], d + "/part-*") for d in dirs]


def import_file(ctx: Ctx, file_oid: str, path: str, op: int | None = None):
    """Import one ODM XML file the reference's way: parse, route,
    derive the ODM tables, generate its commands (PER_FILE id
    namespace) and collect them.  Returns (command rows, dead-letter
    rows)."""
    from lens_sds_batch_spark.session import local_df
    from lens_sds_batch_spark.sources.odm_xml import odm_tables_from_xml, read_odm_xml, route_parsed

    tr, spark = ctx.tr, ctx.spark
    with tr.span("sources.odm_xml.build", op=op, file=file_oid):
        parsed = read_odm_xml(spark, path)
        _valid, _retry, fatal = route_parsed(parsed)
        meta = local_df(spark, [(file_oid, "transactional", "per-file", SUB)],
                        "file_oid string, file_type string, batch_cmd_id string, sub string")
        odm = odm_tables_from_xml(parsed, meta)
    with tr.span("plans.commands.generate_commands", op=op):
        cmds = generate_commands(odm, PER_FILE, SUB, persist=False).select(*COMMAND_COLUMNS)
    with tr.span("plans.commands.drain", op=op) as s:
        rows = [tuple(r) for r in cmds.collect()]
        if tr.enabled:
            s.attrs["catalyst_s"] = catalyst_seconds(cmds)
    with tr.span("sources.odm_xml.dead_letters", op=op) as s:
        dead = s.attrs["rows"] = fatal.count()
    return rows, dead


def item_rows(commands) -> list[tuple[tuple, str]]:
    """(store key, value) of each item command among ``commands``."""
    name, study, item, value = (COMMAND_COLUMNS.index(c)
                                for c in ("name", "study_oid", "item_oid", "value_canon"))
    return sorted((r[study:study + 4] + (r[item],), r[value]) for r in commands if r[name] in ITEM_COMMANDS)


class EntityStore:
    name = "entity_store"
    kinds = ["step"]
    # step 0 creates the table and step 1 sends the first updates; from
    # step 2 on every step inserts, updates and deletes one file's items
    warmup = 2

    def __init__(self, ctx: Ctx):
        self.c = ctx
        self.untimed_s = 0.0

    def prepare(self) -> dict:
        """Render the corpus and order its files by the seed."""
        self.files = render_corpus(self.c, os.path.join(self.c.run_dir, "xml"))
        golden = load_golden()["xml"][str(self.c.sf)]
        if sorted(golden) != [f for f, _ in self.files]:
            raise RuntimeError(f"rendered files {[f for f, _ in self.files]} "
                               f"differ from golden.json {sorted(golden)}")
        self.golden = golden
        self.bad_file = next(p for f, p in self.files if f == "FXBAD")
        self.order = [fp for fp in self.files if fp[0] != "FXBAD"]
        self.c.rng.shuffle(self.order)
        self.target = os.path.join(self.c.run_dir, "store")
        self.agg = os.path.join(self.c.run_dir, "store_agg")
        self.state: dict[tuple, tuple] = {}
        self.sent: dict[int, list[tuple]] = {}  # step -> item (key, value) pairs of its file
        self.prev_seq = 0
        self.phase: dict[str, list[float]] = {}
        sizes = sorted(golden[f]["commands"] for f, _ in self.order)
        return {"xml_files": len(self.order), "commands_per_file_median": sizes[len(sizes) // 2]}

    def _time(self, phase: str, wall: float) -> None:
        self.phase.setdefault(phase, []).append(wall)

    def _check_import(self, file_oid: str, rows, dead: int) -> bool:
        want = self.golden[file_oid]
        return [*py_digest(rows), dead] == [want["commands"], int(want["digest"]), want["dead_letters"]]

    def _batch(self, k: int, items: list[tuple]):
        """Step k's batch: file k's item commands as upserts, file k-1's
        re-delivered with a newer sequence (updates) and file k-2's keys
        as removes, so the live table holds two files and every step
        inserts, updates and deletes.  Returns the batch as a pandas
        DataFrame and applies it to the expected state."""
        import pandas as pd

        self.sent[k] = items
        parts = [(items, False), (self.sent.get(k - 1, []), False), (self.sent.get(k - 2, []), True)]
        rows = [(*key, value, k, rm) for part, rm in parts for key, value in part]
        for *key, value, seq, rm in rows:
            if rm:
                self.state.pop(tuple(key), None)
            else:
                self.state[tuple(key)] = (value, seq)
        batch = pd.DataFrame(rows, columns=[*KEYS, "value", "seq", "is_remove"])
        batch["seq"] = batch["seq"].astype("int64")
        return batch

    def _expect(self, batch, before: dict) -> dict:
        """Expected lookup, change-feed, aggregate and scan digests after
        the batch, from the closed-form last-writer-wins state."""
        state = self.state
        look = [tuple(r) for r in batch[KEYS].itertuples(index=False)]
        look = self.c.rng.sample(look, min(LOOKUP_KEYS, len(look)))
        changes = []
        for key in before.keys() | state.keys():
            a, b = before.get(key), state.get(key)
            if a is None and b is not None:
                changes.append(key + ("insert",))
            elif b is None and a is not None:
                changes.append(key + ("delete",))
            elif a != b:
                changes += [key + ("update_preimage",), key + ("update_postimage",)]
        groups: dict[tuple, int] = {}
        for key in state:
            g = (key[0], key[3])
            groups[g] = groups.get(g, 0) + 1
        return {
            "lookup_keys": look,
            "lookup": py_digest(k2 + state[k2] for k2 in set(look) if k2 in state),
            "changes": py_digest(changes),
            "groups": py_digest(g + (n,) for g, n in groups.items()),
            "n_groups": len(groups),
            "scan": py_digest(k2 + v for k2, v in state.items()),
        }

    def op(self, i: int, bad: bool = False, fail: bool = False):
        from lens_sds_batch_spark.plans.ivm import read_aggregate, refresh_aggregate
        from lens_sds_batch_spark.plans.merge import (
            lookup_merged_keys, maintain_merged_table, merge_into, read_changes, read_merged_table,
        )
        from lens_sds_batch_spark.session import local_df

        spark, tr = self.c.spark, self.c.tr
        checks = []
        if i == 0:  # the malformed file dead-letters: one fatal row, no commands
            rows, dead = import_file(self.c, "FXBAD", self.bad_file, op=i)
            checks.append(self._check_import("FXBAD", rows, dead))
        file_oid, path = self.order[i % len(self.order)]
        t = time.perf_counter()
        rows, dead = import_file(self.c, file_oid, path, op=i)
        self._time("import", time.perf_counter() - t)

        t = time.perf_counter()
        checks.append(self._check_import(file_oid, rows, dead))
        items = item_rows(rows)
        before = dict(self.state)
        batch = self._batch(i, items)
        want = self._expect(batch, before)
        path = os.path.join(self.c.run_dir, f"batch{i}.parquet")
        batch.to_parquet(path, index=False)
        self.untimed_s += time.perf_counter() - t

        updates = spark.read.parquet(path)
        with tr.span("plans.merge.merge_into", op=i) as s:
            res = merge_into(
                spark, self.target, updates, keys=KEYS + ["no_such_column"] if fail else KEYS,
                order_cols=["seq"], is_delete=F.col("is_remove"),
                num_buckets=16 if i == 0 else None,
                protocol="manifest" if i == 0 else None,
            )
            s.attrs["commit"] = {**res, "batch_bytes": os.path.getsize(path)}
        self._time("commit", s.wall)
        with tr.span("plans.merge.lookup_merged_keys", op=i) as s:
            probe = local_df(spark, want["lookup_keys"], ", ".join(f"{c} string" for c in KEYS))
            got = spark_digest(lookup_merged_keys(spark, self.target, probe), STATE_COLS)
        self._time("lookup", s.wall)
        checks.append(got == want["lookup"])
        with tr.span("plans.merge.read_changes", op=i) as s:
            ch = read_changes(spark, self.target, from_seq=self.prev_seq, to_seq=res["seq"])
            got = spark_digest(ch, KEYS + ["_change_type"]) if ch is not None else (0, 0)
        self._time("change_feed", s.wall)
        checks.append(got == want["changes"])
        self.prev_seq = res["seq"]
        with tr.span("plans.ivm.refresh_aggregate", op=i) as s:
            ivm = refresh_aggregate(spark, self.target, self.agg, group_keys=GROUP_KEYS,
                                    aggs={"n": ("count", "*")})
            got = spark_digest(read_aggregate(spark, self.agg), GROUP_KEYS + ["n"])
            s.attrs["groups_changed_share"] = ivm["groups_changed"] / max(1, want["n_groups"])
        self._time("ivm_refresh", s.wall)
        checks.append(got == want["groups"])
        with tr.span("plans.merge.read_merged_table", op=i) as s:
            got = spark_digest(read_merged_table(spark, self.target), STATE_COLS)
        self._time("snapshot_read", s.wall)
        checks.append(got == (want["scan"][0] + bad, want["scan"][1]))
        with tr.span("plans.merge.maintain_merged_table", op=i) as s:
            maintain_merged_table(spark, self.target)
        self._time("maintain", s.wall)
        return "step", len(batch), all(checks), f"step {i} ({file_oid}): {len(batch)} rows, checks {checks}"

    def measure_storage(self) -> None:
        """``stored_ratio``: bytes under the target after a final
        maintain, over the bytes of a plain parquet write of the live
        state."""
        from lens_sds_batch_spark.plans.merge import maintain_merged_table, read_merged_table

        maintain_merged_table(self.c.spark, self.target)
        plain = os.path.join(self.c.run_dir, "store_plain")
        read_merged_table(self.c.spark, self.target).select(*KEYS, "value", "seq", "is_remove") \
            .write.mode("overwrite").parquet(plain)
        self.stored_ratio = _tree_bytes(self.target) / max(1, _tree_bytes(plain))


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


WORKLOADS = {w.name: w for w in (BulkImport, EntityStore)}
