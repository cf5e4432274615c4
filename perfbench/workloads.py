"""The three closed-loop workloads, one client each.

A workload is built once per run over its generated inputs. Each set-up
calls ``register(spark, k)`` (fresh table/directories on the given
session) and ``op()`` for warm-up; the timed loop then calls ``op()``
until time is up. ``op()`` returns an ``Op``; ``final_checks()``
verifies the run's outputs against DuckDB over the generated files.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb

import gen
from spans import tail


@dataclass
class Op:
    latency_s: float  # engine time of the op: one batch, cycle or pass
    items: int  # rows/docs the op processed, for throughput
    checks: list = field(default_factory=list)  # (name, ok) pairs
    detail: dict = field(default_factory=dict)  # report-line timings

    @property
    def ok(self) -> bool:
        return all(ok for _, ok in self.checks)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def _count(con, sql: str) -> int:
    return con.execute(sql).fetchone()[0]


class Workload:
    """Shared state: inputs, the tracer, and the spark session."""

    name = ""

    def __init__(self, work: str, inputs: str, props: dict, tracer):
        self.work = work
        self.inputs = inputs
        self.props = props
        self.tr = tracer
        self.spark = None

    def register(self, spark, k: int) -> None:
        raise NotImplementedError

    def op(self) -> "Op":
        raise NotImplementedError

    def final_checks(self) -> list:
        return []

    def between_ops(self) -> None:
        """Untimed housekeeping after each op."""

    def named_metrics(self, ops: list, e2e: dict) -> dict:
        """The workload's own end-to-end metrics, by name."""
        return {}


def _p50_tail(prefix: str, values) -> dict:
    v, pct, n = tail(values)
    return {f"{prefix}_p50_s": statistics.median(values),
            f"{prefix}_tail_s": v, f"{prefix}_tail_pct": pct,
            f"{prefix}_samples": n}


# ----------------------------------------------------------------------
class IngestSmallBatches(Workload):
    """Land one generated batch, then run the streaming pipeline once
    with availableNow; latency is landed -> epoch committed."""

    name = "ingest_small_batches"

    def register(self, spark, k):
        from pyspark.sql import functions as F

        from gobblin_spark.operators import quality as Q
        from gobblin_spark.plans.pipeline import Branch, Pipeline

        self.spark = spark
        base = os.path.join(self.work, f"ingest-{k}")
        self.base = base
        self.landing = os.path.join(base, "landing")
        os.makedirs(self.landing)
        self.ckpt = os.path.join(base, "ckpt")
        self.out = {b: os.path.join(base, "out", b) for b in ("a", "b")}
        self.quarantine = os.path.join(base, "quarantine")
        lo, hi = gen.INGEST_VALUE_RANGE
        in_a = F.col("event_type").isin(*gen.INGEST_BRANCH_A)
        self.pipeline = Pipeline(
            source=lambda s: None,
            row_policies=[Q.range_policy("value", lo, hi)],
            branches=[Branch("a", mask=in_a, final_dir=self.out["a"]),
                      Branch("b", mask=~in_a, final_dir=self.out["b"])],
            quarantine_dir=self.quarantine,
            job_id="ingest")
        self.schema = ("event_id long, ts timestamp_ntz, user_id long, "
                       "event_type string, value double, props string")
        self.landed: list[int] = []
        if not hasattr(self, "next_batch"):
            self.next_batch = 0

    def op(self):
        from gobblin_spark import streaming
        from gobblin_spark.plans import pipeline as PL

        i = self.next_batch
        self.next_batch += 1
        if i >= len(self.props["expect"]):
            raise RuntimeError("ingest batch pool exhausted")
        src = os.path.join(self.inputs, f"batch-{i:05d}.parquet")
        dst = os.path.join(self.landing, os.path.basename(src))
        nbytes = os.path.getsize(src)
        self.tr.new_trace()
        t0 = time.perf_counter()
        shutil.copyfile(src, dst + ".tmp")
        os.replace(dst + ".tmp", dst)  # landed: visible atomically
        t_land = time.perf_counter()
        results = PL.run_streaming(
            self.pipeline,
            streaming.file_stream(self.spark, self.landing,
                                  schema=self.schema),
            self.ckpt)
        t1 = time.perf_counter()
        self.tr.note(input_bytes=nbytes)
        self.landed.append(i)
        exp = self.props["expect"][i]
        res = results[0] if len(results) == 1 else None
        checks = [
            ("one_epoch", res is not None),
            ("quarantined", res is not None
             and res.quarantined == exp["quarantined"]),
            ("published", res is not None and res.report is not None
             and sorted(res.report.published) == ["a", "b"]),
        ]
        if res is not None:
            self.tr.note(pass_ratio=1 - res.quarantined / exp["rows"])
        return Op(t1 - t_land, exp["rows"], checks,
                  {"cycle_s": t1 - t0})

    def named_metrics(self, ops, e2e):
        out = _p50_tail("ingest_latency", [o.latency_s for o in ops])
        out["ingest_rows_per_s"] = e2e["throughput_per_s"]
        return out

    def final_checks(self):
        con = duckdb.connect()
        lo, hi = gen.INGEST_VALUE_RANGE
        a = ", ".join(f"'{t}'" for t in gen.INGEST_BRANCH_A)
        landed = f"read_parquet('{self.landing}/*.parquet')"
        ok = f"value BETWEEN {lo} AND {hi}"
        want = {
            "a": _count(con, f"SELECT count(*) FROM {landed} "
                             f"WHERE {ok} AND event_type IN ({a})"),
            "b": _count(con, f"SELECT count(*) FROM {landed} "
                             f"WHERE {ok} AND event_type NOT IN ({a})"),
            "quarantine": _count(con, f"SELECT count(*) FROM {landed} "
                                      f"WHERE NOT ({ok})"),
        }
        dirs = dict(self.out, quarantine=self.quarantine)
        checks = []
        for b, d in dirs.items():
            got = _count(con, f"SELECT count(*) FROM "
                              f"read_parquet('{d}/**/*.parquet')")
            checks.append((f"rows_{b}", got == want[b]))
        total = _count(con, f"SELECT count(*) FROM {landed}")
        checks.append(("conserved", total == sum(want.values())
                       == len(self.landed) * gen.INGEST_BATCH_ROWS))
        leftovers = glob.glob(os.path.join(self.base, "**", "_staging-*"),
                              recursive=True)
        checks.append(("no_staging_left", not leftovers))
        con.close()
        return checks


# ----------------------------------------------------------------------
class LakeCdcMaintain(Workload):
    """Change cycles on one Iceberg table: upsert, equality delete,
    position delete, append, a merge-on-read predicate scan over the
    three delete files the cycle left, the cycle's changelog, then
    rewrite -> expire -> remove orphans. The op's latency is the sum of
    those engine calls (space sampling and the DuckDB replay are left
    out); the report adds per-step medians. A traced run also scans the
    maintained table through the ``gobblin_iceberg`` connector once
    after the loop."""

    name = "lake_cdc_maintain"
    SCAN_FROM = dt.date(1995, 1, 1)  # predicate: o_orderdate >= SCAN_FROM

    def register(self, spark, k):
        from gobblin_spark.sinks.iceberg import IcebergTable
        from gobblin_spark.sources import datasource, files

        self.spark = spark
        datasource.register(spark)
        self.loc = os.path.join(self.work, f"lake-{k}", "t")
        base_path = os.path.join(self.inputs, "base.parquet")
        base = files.read_parquet(spark, base_path)
        self.table = IcebergTable.create(spark, self.loc, base.schema)
        self.table.append_dataframe(base)
        self.cycle = 0
        self.con = duckdb.connect()
        self.con.execute(f"CREATE OR REPLACE TABLE expect AS "
                         f"SELECT * FROM '{base_path}'")
        self.space_amp: list[float] = []

    def _read(self, cycle_dir, name):
        from gobblin_spark.sources import files

        return files.read_parquet(self.spark,
                                  os.path.join(cycle_dir, name))

    def _sample_space(self):
        live = sum(f.size_bytes for f in self.table.data_files())
        self.space_amp.append(_dir_bytes(self.loc) / live)

    def _replay(self, cycle_dir):
        """Apply the cycle's change set to the DuckDB expected table."""
        c = self.con
        p = lambda n: f"'{os.path.join(cycle_dir, n)}'"  # noqa: E731
        c.execute(f"DELETE FROM expect WHERE o_orderkey IN "
                  f"(SELECT o_orderkey FROM {p('upsert.parquet')})")
        c.execute(f"INSERT INTO expect SELECT * FROM {p('upsert.parquet')}")
        for n in ("eq_delete.parquet", "pos_delete.parquet"):
            c.execute(f"DELETE FROM expect WHERE o_orderkey IN "
                      f"(SELECT o_orderkey FROM {p(n)})")
        c.execute(f"INSERT INTO expect SELECT * FROM {p('append.parquet')}")

    def _expect_scan(self):
        return self.con.execute(
            "SELECT count(*), sum(round(o_totalprice * 100)::BIGINT) "
            f"FROM expect WHERE o_orderdate >= DATE '{self.SCAN_FROM}'"
        ).fetchone()

    def _scan_rows(self, df):
        from pyspark.sql import functions as F

        # prices carry two decimals: sum whole cents, exactly
        cents = F.round(F.col("o_totalprice") * 100).cast("long")
        r = (df.filter(F.col("o_orderdate") >= F.lit(self.SCAN_FROM))
             .agg(F.count(F.lit(1)), F.sum(cents)).collect()[0])
        return (r[0], r[1])

    def op(self):
        from pyspark.sql import functions as F

        c = self.cycle
        if c >= len(self.props["windows"]):
            raise RuntimeError("lake change-cycle pool exhausted")
        self.cycle += 1
        d = os.path.join(self.inputs, f"cycle-{c:05d}")
        t = self.table
        tr = self.tr
        tr.new_trace()
        prev = t.metadata()["current-snapshot-id"]
        commit_s: dict[str, float] = {}

        def timed(kind, fn):
            with tr.commit_probe(self.loc):
                t0 = time.perf_counter()
                fn()
                commit_s[kind] = time.perf_counter() - t0
            self._sample_space()

        timed("upsert", lambda: t.upsert_dataframe(
            self._read(d, "upsert.parquet"), ["o_orderkey"]))
        timed("eq_delete", lambda: t.delete_equality(
            self._read(d, "eq_delete.parquet")))

        def pos_delete():
            keys = self._read(d, "pos_delete.parquet")
            positions = (t.read(apply_deletes=False)
                         .select("o_orderkey",
                                 F.col("_metadata.file_path")
                                 .alias("file_path"),
                                 F.col("_metadata.row_index").alias("pos"))
                         .join(F.broadcast(keys), "o_orderkey", "left_semi")
                         .drop("o_orderkey"))
            t.delete_positions(positions)

        timed("pos_delete", pos_delete)
        timed("append", lambda: t.append_dataframe(
            self._read(d, "append.parquet")))
        self._replay(d)
        want = self._expect_scan()
        wwin = self.props["windows"][c]

        tr.note(live_delete_files=tr.live_delete_files(t))
        read_s: dict[str, float] = {}
        with tr.span("sinks.iceberg.scan", timer=read_s):
            got = self._scan_rows(t.read(
                prune_filters=[("o_orderdate", ">=", self.SCAN_FROM)]))
        with tr.span("sinks.iceberg.changelog", timer=read_s):
            rows = dict(t.changelog(prev).groupBy("_change_type").count()
                        .collect())
        scan_s = read_s["sinks.iceberg.scan"]
        changelog_s = read_s["sinks.iceberg.changelog"]
        checks = [("scan", got == want),
                  ("changelog_insert", rows.get("insert") == wwin["insert"]),
                  ("changelog_delete", rows.get("delete") == wwin["delete"])]
        detail = dict(commit_s=commit_s, scan_s=scan_s,
                      changelog_s=changelog_s)
        with tr.span("sinks.iceberg.maintain", timer=read_s):
            t.rewrite_data_files(target_partitions=2)
            tr.note(bytes_rewritten=sum(
                f.size_bytes for f in t.data_files()))
            t.expire_snapshots(int(time.time() * 1000))
            t.remove_orphan_files(older_than_s=0)
        detail["maintain_s"] = read_s["sinks.iceberg.maintain"]
        self._sample_space()
        items = wwin["insert"] + wwin["delete"]
        engine_s = (sum(commit_s.values()) + scan_s + changelog_s
                    + detail["maintain_s"])
        return Op(engine_s, items, checks, detail)

    def connector_scan(self):
        """The predicate scan through the ``gobblin_iceberg`` connector,
        which reads delete-free tables only: right after maintenance."""
        want = self._expect_scan()
        t0 = time.perf_counter()
        with self.tr.span("sources.datasource.iceberg_plan") as sp:
            df = (self.spark.read.format("gobblin_iceberg")
                  .option("path", self.loc).load())
            sp.attrs["partitions"] = df.rdd.getNumPartitions()
        with self.tr.span("sources.datasource.iceberg_scan"):
            got = self._scan_rows(df)
        return time.perf_counter() - t0, got == want

    def named_metrics(self, ops, e2e):
        commits = [v for o in ops for v in o.detail["commit_s"].values()]
        out = _p50_tail("lake_commit", commits)
        for k in ("scan", "changelog", "maintain"):
            vals = [o.detail[f"{k}_s"] for o in ops if f"{k}_s" in o.detail]
            out[f"lake_{k}_p50_s"] = statistics.median(vals)
        out["lake_space_amp"] = statistics.median(self.space_amp)
        if self.tr.on:
            out["lake_connector_scan_s"] = self.connector_s
        out["lake_changed_rows_per_s"] = e2e["throughput_per_s"]
        return out

    def final_checks(self):
        checks = []
        if self.tr.on:
            self.connector_s, ok = self.connector_scan()
            checks.append(("connector_scan", ok))
        cols = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                "o_orderdate, o_orderpriority")
        got = self.table.read().toPandas()
        c = self.con
        c.register("got", got)
        digest = (f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM ")
        ok = (c.execute(digest + "got").fetchone()
              == c.execute(digest + "expect").fetchone())
        c.unregister("got")
        return checks + [("table_hash", ok)]


# ----------------------------------------------------------------------
class CorpusCurate(Workload):
    """One pass of the curation chain over the corpus per op; every
    stage ends in a write, the last through write-audit-publish."""

    name = "corpus_curate"
    MIN_SCORE = 0.6

    def register(self, spark, k):
        from gobblin_spark.sources import files

        self.spark = spark
        self.base = os.path.join(self.work, f"curate-{k}")
        self.docs = files.read_parquet(
            spark, os.path.join(self.inputs, "documents"))
        self.docs.createOrReplaceTempView("documents")
        if not hasattr(self, "passes"):
            self.passes = 0

    def _write(self, df, path):
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def op(self):
        from pyspark.sql import functions as F

        from gobblin_spark.functions import dedup, graph, text
        from gobblin_spark.sinks import publish

        p = self.passes
        self.passes += 1
        self.tr.note(input_bytes=self.props["corpus_bytes"])
        d = os.path.join(self.base, f"pass-{p}")
        tr = self.tr
        tr.new_trace()
        stage_s = {}
        t_pass = time.perf_counter()

        def stage(name):
            return tr.span(name, timer=stage_s)

        with stage("functions.text.score_filter"):
            s1 = self._write(
                self.docs.withColumn("score", text.quality_score(
                    F.col("text"))).filter(F.col("score") >= self.MIN_SCORE),
                f"{d}/s1_scored")
        with stage("functions.dedup.keep_best"):
            best = dedup.dedup_keep_best(s1, "doc_id", "text", "score")
            s2 = self._write(s1.join(best.select("doc_id"), "doc_id",
                                     "left_semi"), f"{d}/s2_exact")
        with stage("functions.dedup.minhash_lsh_pairs"):
            s3 = self._write(
                dedup.minhash_lsh_pairs(s2, "doc_id", "text")
                .select("id_a", "id_b"), f"{d}/s3_pairs")
        with stage("functions.graph.keep_one_per_component"):
            s4 = self._write(graph.keep_one_per_component(s2, s3, "doc_id"),
                             f"{d}/s4_near")
        with stage("functions.text.chunk_token_windows"):
            s5 = self._write(text.chunk_token_windows(s4, "doc_id", "text"),
                             f"{d}/s5_chunks")
        with stage("sinks.publish.write_audit_publish"):
            report = publish.write_audit_publish(s5, f"{d}/published",
                                                 self.spark)
        wall = time.perf_counter() - t_pass
        checks = [("published", report.committed)]
        checks += self._check_pass(d)
        return Op(wall, self.props["docs"], checks, {"stage_s": stage_s})

    def named_metrics(self, ops, e2e):
        return {"curate_docs_per_s": statistics.median(
            o.items / o.latency_s for o in ops)}

    def _check_pass(self, d):
        con = duckdb.connect()
        s1 = f"read_parquet('{d}/s1_scored/*.parquet')"
        # exact dedup: per identical text keep the best score, then the
        # smallest id
        want = con.execute(
            f"SELECT doc_id FROM (SELECT doc_id, row_number() OVER ("
            f"PARTITION BY text ORDER BY score DESC, doc_id) AS rn "
            f"FROM {s1}) WHERE rn = 1 ORDER BY doc_id").fetchall()
        got = con.execute(
            f"SELECT doc_id FROM read_parquet('{d}/s2_exact/*.parquet') "
            f"ORDER BY doc_id").fetchall()
        chunks = _count(con, f"SELECT count(*) FROM "
                             f"read_parquet('{d}/s5_chunks/*.parquet')")
        pub = _count(con, f"SELECT count(*) FROM "
                          f"read_parquet('{d}/published/*.parquet')")
        near = _count(con, f"SELECT count(*) FROM "
                           f"read_parquet('{d}/s4_near/*.parquet')")
        con.close()
        return [("exact_dedup", want == got),
                ("near_dedup_subset", 0 < near < len(got)),
                ("published_rows", pub == chunks and pub > 0)]

    def between_ops(self):
        # minhash_lsh_pairs leaves its signature table persisted
        self.spark.catalog.clearCache()


WORKLOADS = {w.name: w for w in
             (IngestSmallBatches, LakeCdcMaintain, CorpusCurate)}
