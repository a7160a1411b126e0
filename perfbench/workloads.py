"""The two workloads: what one pass runs, and how its outputs are checked.

A pass is a list of `Op`s run back to back by one closed-loop client.
`Op.fn()` is the timed call; `Op.check(result)` runs afterwards, outside
the timed region, and raises `WrongOutput` on a wrong output. Timed passes
of the untraced run repeat the short reads back to back (`repeat=True`):
one sample of an operation under half a second moves by ±30% on a shared
host, and the benchmark reports each operation's median.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from data_lakes_tp2_student_spark.catalog import REGISTRY
from data_lakes_tp2_student_spark.io.datasource import ManifestDataSource
from data_lakes_tp2_student_spark.io.manifest import ManifestTable
from data_lakes_tp2_student_spark.io.zones import ZONES, Warehouse
from data_lakes_tp2_student_spark.pipeline import pfam
from data_lakes_tp2_student_spark.pipeline.incremental import run_pipeline_incremental
from tests.oracle import canon_strings, run_duckdb_df

from gen_data import write_pfam_shards

# The LLM-data headline queries that fit the benchmark's time budget
# (README.md lists the ones left out and why), in the order every pass
# runs them. x2b comes last: warmed after the others its latency held at
# 3.3-3.8 s, warmed among the first three it varied over 4.1-5.9 s.
CORPUS_QUERIES = (
    "j1_tokenize", "x1_exact_dedup", "x4_quality_score", "x16_pmi_cooccurrence",
    "x2e_dup_clusters", "x2f_simhash_pairs", "x2b_jaccard_verify",
)
# Queries under half a second; a timed pass runs each this many times.
SHORT_QUERY_REPEAT = {"j1_tokenize": 3, "x1_exact_dedup": 3, "x4_quality_score": 3}
HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "oracle_digests.json")


class WrongOutput(Exception):
    pass


def expect(ok: bool, msg: str) -> None:
    if not ok:
        raise WrongOutput(msg)


@dataclass
class Op:
    name: str  # metric-safe id, e.g. "query.x2f_simhash_pairs" or "manifest.merge"
    kind: str  # "read" or "write"
    fn: Callable[[], Any]
    check: Callable[[Any], None] | None = None


def result_digest(pdf) -> str:
    """sha256 of tests/oracle.py's canonical (columns, sorted rows) form."""
    cols, rows = canon_strings(pdf)
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def data_fingerprint(sf_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, name), "rb") as f:
            h.update(name.encode() + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def oracle_digests(sf_dir: str, ids, cache_path: str) -> dict[str, str]:
    """DuckDB oracle digest per query id. Taken from the booked file when it
    was booked for these exact input bytes; otherwise computed with DuckDB
    (minutes at sf0.1) and cached next to the generated data."""
    fp = data_fingerprint(sf_dir)
    for path in (DIGESTS, cache_path):
        if os.path.exists(path):
            with open(path) as f:
                booked = json.load(f)
            if booked["data_sha256"] == fp and set(ids) <= set(booked["digests"]):
                return booked["digests"]
    digests = {
        qid: result_digest(run_duckdb_df(REGISTRY[qid].oracle, sf_dir))
        for qid in sorted(ids)
    }
    with open(cache_path, "w") as f:
        json.dump({"data_sha256": fp, "digests": digests}, f, indent=1, sort_keys=True)
    return digests


class QueryWorkload:
    """Read-only registry queries: `Query.fn` builds the DataFrame (some
    queries launch eager jobs here), then the noop sink runs it."""

    def __init__(self, spark, tracer, sf_dir: str, ids, digests: dict) -> None:
        self.spark, self.tracer, self.sf_dir = spark, tracer, sf_dir
        self.ids, self.digests = ids, digests

    def prepare(self) -> None:
        pass

    def _run(self, qid: str, collect: bool):
        q = REGISTRY[qid]
        try:
            with self.tracer.span("catalog.build", group=True):
                df = q.fn(self.spark, self.sf_dir)
            with self.tracer.span("engine.action", group=True):
                if collect:
                    return df.toPandas()
                df.write.format("noop").mode("overwrite").save()
        finally:
            self.spark.catalog.clearCache()

    def _check(self, qid: str, pdf) -> None:
        got = result_digest(pdf)
        expect(got == self.digests[qid], f"{qid}: result differs from the DuckDB oracle")

    def pass_ops(self, rng: random.Random, warm: bool, repeat: bool = False) -> list[Op]:
        # Every pass keeps one order: a query's time moves by up to 40%
        # with the query run before it, and x2b's with its place in the
        # warm pass. The tables are fixed, so `rng` is unused.
        return [
            Op(
                f"query.{qid}",
                "read",
                lambda qid=qid: self._run(qid, collect=warm),
                (lambda pdf, qid=qid: self._check(qid, pdf)) if warm else None,
            )
            for qid in self.ids
            for _ in range(SHORT_QUERY_REPEAT.get(qid, 1) if repeat else 1)
        ]

    def final_check(self) -> None:
        pass

    def pass_stats(self) -> dict:
        return {}


def _dir_bytes(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


class LakeWorkload:
    """The write path: the three-stage Pfam pipeline, a no-change
    incremental re-run, and DML, reads and maintenance on a manifest table
    mirrored by a DuckDB model."""

    N_FILES = 200  # range-clustered data files of the manifest table
    NEW_ROWS = 200  # rows a merge inserts (deleted again through a DV)
    NEW_RID = 1 << 60  # rids of merge-inserted rows start here
    MAX_LEN = 1024
    PFAM_ROWS = 10_000  # sequences in the pipeline's input
    READ_REPEAT = 3  # timed runs of each read under half a second

    def __init__(self, spark, tracer, sf_dir: str, work: str, seed: int) -> None:
        self.spark, self.tracer, self.sf_dir = spark, tracer, sf_dir
        self.work, self.seed = work, seed
        self.shards = os.path.join(work, "pfam_shards")
        self.wh = Warehouse(os.path.join(work, "wh_stages"))
        self.wh_inc = Warehouse(os.path.join(work, "wh_incremental"))
        self.root = os.path.join(work, "lineitem_table")
        self.template = os.path.join(os.path.dirname(work), "lineitem_table_template")
        self.stats: dict[str, float] = {}
        self._pass_no = 0

    # ---- untimed preparation: benchmark inputs, not system set-up ----
    def prepare(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        write_pfam_shards(self.shards, self.seed, n_rows=self.PFAM_ROWS)
        self.input_bytes = _dir_bytes(self.shards)[1]
        spark = self.spark
        spark.dataSource.register(ManifestDataSource)
        if not os.path.isdir(self.template):  # built once per checkout
            base = (
                spark.read.parquet(f"{self.sf_dir}/lineitem.parquet")
                .withColumn("rid", F.monotonically_increasing_id())
                .repartitionByRange(self.N_FILES, "l_orderkey")
            )
            ManifestTable(self.template + ".tmp", stats_cols=["l_orderkey"]).commit_overwrite(base)
            os.replace(self.template + ".tmp", self.template)
        shutil.copytree(self.template, self.root)
        self.tab = ManifestTable(self.root, stats_cols=["l_orderkey"])
        m = self.tab.manifest(self.tab.latest_version())
        self.base_files = sorted(
            (e["stats"]["l_orderkey"][0], e["stats"]["l_orderkey"][1], e["bytes"])
            for e in m["files"]
        )
        # Files below this size are compacted. Windows cover the lower half
        # of one base file, so the two halves they leave are both small and
        # fold back into one file of the original key range.
        min_bytes = min(b for _, _, b in self.base_files)
        self.small_bytes = int(0.8 * min_bytes)
        self.windows = [
            (lo, lo + (hi - lo) // 2)
            for lo, hi, b in self.base_files
            if b < 1.5 * min_bytes
        ]
        self.bytes_per_row = sum(e["bytes"] for e in m["files"]) / sum(
            e["rows"] for e in m["files"]
        )
        self.db = duckdb.connect()
        paths = [os.path.join(self.root, e["path"]) for e in m["files"]]
        self.db.execute("CREATE TABLE m AS SELECT * FROM read_parquet(?)", [paths])
        self.schema = self.tab.read(spark).schema

    # ---- one pass ----
    def pass_ops(self, rng: random.Random, warm: bool, repeat: bool = False) -> list[Op]:
        self._pass_no += 1
        if self.tracer.enabled:
            self._files = self._live_files()
        lo, hi = self.windows[rng.randrange(len(self.windows))]
        sp, tab, tr = self.spark, self.tab, self.tracer
        where = f"l_orderkey BETWEEN {lo} AND {hi}"
        rf = {"l_orderkey": (lo, hi)}
        cols = ["rid", "l_orderkey", "l_quantity"]
        ops: list[Op] = []

        def timed(layer, fn):
            def run():
                with tr.span(layer, group=True):
                    return fn()
            return run

        def add(name, kind, layer, fn, check=None, times=1):
            for _ in range(times if repeat else 1):
                ops.append(Op(name, kind, timed(layer, fn), check))

        def maintain():
            with tr.span("manifest.compact", group=True, metric="manifest.compact_s"):
                tab.compact(sp, small_file_bytes=self.small_bytes)
            with tr.span("manifest.vacuum", metric="manifest.vacuum_s"):
                return tab.vacuum(keep_versions=1, min_age_seconds=0)

        # 1. the reference pipeline, stage by stage, then a re-run through
        #    the incremental orchestrator, which finds nothing changed. The
        #    warm pass instead builds the orchestrator's warehouse, which
        #    runs (and warms) the same three stage functions.
        if warm:
            add("incremental.full_run", "write", "incremental.run_pipeline_incremental",
                lambda: run_pipeline_incremental(sp, self.shards, self.wh_inc.root,
                                                 max_len=self.MAX_LEN),
                lambda _r: self._check_pipeline(self.wh_inc))
        else:
            add("pipeline.unpack_to_raw", "write", "pipeline.unpack_to_raw",
                lambda: pfam.unpack_to_raw(sp, self.shards, self.wh))
            add("pipeline.preprocess_to_staging", "write", "pipeline.preprocess_to_staging",
                lambda: pfam.preprocess_to_staging(sp, self.wh))
            add("pipeline.process_to_curated", "write", "pipeline.process_to_curated",
                lambda: pfam.process_to_curated(sp, self.wh, max_len=self.MAX_LEN))
            add("incremental.noop_repro", "read", "incremental.run_pipeline_incremental",
                lambda: run_pipeline_incremental(sp, self.shards, self.wh_inc.root,
                                                 max_len=self.MAX_LEN),
                self._check_noop, times=self.READ_REPEAT)

        # 2. table operations on one key window, each mirrored on the model:
        #    delete the window's rows, append them back, read, upsert them
        #    plus new rows, delete the new rows through a deletion vector,
        #    then fold the window's small files back into one and drop the
        #    files no version references (one operation: vacuum alone takes
        #    milliseconds, too short to time on its own)
        batch = self.db.execute(f"SELECT * FROM m WHERE {where}").df()
        new = batch.sample(n=min(self.NEW_ROWS, len(batch)), random_state=rng.randrange(2**31))
        new = new.assign(rid=self.NEW_RID + self._pass_no * 10_000 + np.arange(len(new)))
        src = pd.concat([batch.assign(l_quantity=batch["l_quantity"] % 50 + 1), new])
        dv_where = f"{where} AND rid >= {self.NEW_RID}"
        self.stats = {"bytes_added": 0, "user_rows": 2 * len(batch) + len(src) + len(new)}

        add("manifest.delete_cow", "write", "manifest.delete_where",
            lambda: tab.delete_where(sp, where, mode="cow"),
            self._after_write(f"DELETE FROM m WHERE {where}", cow=True))
        add("manifest.append", "write", "manifest.commit_append",
            lambda: tab.commit_append(sp.createDataFrame(batch, self.schema).coalesce(1)),
            self._after_write("INSERT INTO m SELECT * FROM delta", batch))
        add("manifest.read_pruned", "read", "manifest.read",
            lambda: tab.read(sp, range_filter=rf).filter(where).select(*cols).toPandas(),
            self._check_rows(where, cols, prune_stats=rf), times=self.READ_REPEAT)
        add("datasource.read_pruned", "read", "datasource.read",
            lambda: sp.read.format("manifest").option("path", self.root).load()
            .filter(where).select(*cols).toPandas(),
            self._check_rows(where, cols))
        add("manifest.read_full", "read", "manifest.read",
            lambda: tab.read(sp).agg(*self._agg_exprs()).toPandas(),
            self._check_agg)
        add("manifest.merge", "write", "manifest.merge",
            lambda: tab.merge(sp, sp.createDataFrame(src, self.schema),
                              "t.rid = s.rid AND t.l_orderkey = s.l_orderkey")
            .when_matched_update(set={"l_quantity": "s.l_quantity"})
            .when_not_matched_insert_all()
            .execute(),
            self._after_write(
                "UPDATE m SET l_quantity = delta.l_quantity FROM delta WHERE m.rid = delta.rid;"
                "INSERT INTO m SELECT * FROM delta WHERE rid >= " + str(self.NEW_RID),
                src,
            ))
        add("manifest.delete_dv", "write", "manifest.delete_where",
            lambda: tab.delete_where(sp, dv_where, mode="dv"),
            self._after_write(f"DELETE FROM m WHERE {dv_where}"))
        add("manifest.read_dv", "read", "manifest.read",
            lambda: tab.read(sp, range_filter=rf).filter(where).select(*cols).toPandas(),
            self._check_rows(where, cols), times=self.READ_REPEAT)
        ops.append(Op("manifest.maintain", "write", maintain, self._after_write(None)))
        return ops

    def final_check(self) -> None:
        """The whole table against its model, once after the timed passes
        (each pass checks its reads; the warm pass checks the zones)."""
        self._check_table()

    # ---- checks (outside the timed region) ----
    def _agg_exprs(self):
        return [
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("q"),
            F.sum(F.col("rid") % 1000003).alias("r"),
        ]

    def _model_agg(self) -> tuple:
        return self.db.execute(
            "SELECT count(*), sum(l_quantity), sum(rid % 1000003) FROM m"
        ).fetchone()

    def _check_agg(self, pdf) -> None:
        got = tuple(pdf.iloc[0])
        want = self._model_agg()
        expect(
            (int(got[0]), float(got[1]), int(got[2]))
            == (int(want[0]), float(want[1]), int(want[2])),
            f"table aggregate {got} != model {want}",
        )

    def _check_rows(self, where: str, cols: list[str], prune_stats=None):
        def check(pdf) -> None:
            sql = f"SELECT {', '.join(cols)} FROM m WHERE {where}"
            want = sorted((int(a), int(b), float(c)) for a, b, c in self.db.execute(sql).fetchall())
            got = sorted(
                (int(a), int(b), float(c)) for a, b, c in pdf.itertuples(index=False, name=None)
            )
            expect(got == want, f"pruned read: {len(got)} rows, model has {len(want)}")
            if prune_stats and self.tracer.enabled:
                self._prune_stats(prune_stats, len(got))
        return check

    def _after_write(self, model_sql: str | None, delta=None, cow: bool = False):
        """Apply the same change to the model (`delta` is visible to the
        SQL under that name), and count the data files the commit added
        and removed."""
        def check(_result) -> None:
            if model_sql is not None:
                if delta is not None:
                    self.db.register("delta", delta)
                self.db.execute(model_sql)
                if delta is not None:
                    self.db.unregister("delta")
            if not self.tracer.enabled:
                return
            files = self._live_files()
            added = files.keys() - self._files.keys()
            self.stats["bytes_added"] += sum(files[p] for p in added)
            if cow:
                self.stats["manifest.files_rewritten_per_delete"] = len(
                    self._files.keys() - files.keys()
                )
            self._files = files
        return check

    def _live_files(self) -> dict[str, int]:
        m = self.tab.manifest(self.tab.latest_version())
        return {e["path"]: e["bytes"] for e in m["files"]}

    def _check_table(self) -> None:
        self._check_agg(self.tab.read(self.spark).agg(*self._agg_exprs()).toPandas())

    def _check_noop(self, result: dict) -> None:
        expect(set(result.values()) == {"skipped"}, f"re-run was not a no-op: {result}")

    def _check_pipeline(self, wh: Warehouse) -> None:
        """FIXTURES.md §1 invariants on the staging and curated zones."""
        sp = self.spark
        raw = wh.read(sp, "raw", "pfam")
        staged = wh.read(sp, "staging", "pfam")
        clean = raw.na.drop("any").count()
        per = dict(staged.groupBy("split").count().collect())
        expect(
            set(per) == {"train", "dev", "test"} and sum(per.values()) == clean,
            f"splits {per} do not partition the {clean} clean rows",
        )
        sizes = wh.read(sp, "curated", "pfam").select(F.size("tokens")).distinct().collect()
        expect([r[0] for r in sizes] == [self.MAX_LEN], f"token widths {sizes}")
        w = wh.read(sp, "staging", "class_weights").agg(F.max("weight")).first()[0]
        expect(abs(w - 1.0) < 1e-9, f"rarest-class weight {w}")

    # ---- per-layer counters ----
    def _prune_stats(self, rf: dict, rows_returned: int) -> None:
        m = self.tab.manifest(self.tab.latest_version())
        kept = {os.path.basename(p) for p in self.tab.read(self.spark, range_filter=rf).inputFiles()}
        kept_rows = sum(e["rows"] for e in m["files"] if os.path.basename(e["path"]) in kept)
        self.stats["manifest.prune_keep_frac"] = len(kept) / len(m["files"])
        self.stats["manifest.rows_useful_frac"] = rows_returned / max(1, kept_rows)

    def pass_stats(self) -> dict:
        """Layout and zone counters after a pass (trace mode only)."""
        tab = self.tab
        m = tab.manifest(tab.latest_version())
        live_bytes = sum(e["bytes"] for e in m["files"])
        _, table_bytes = _dir_bytes(self.root)
        out = {k: v for k, v in self.stats.items() if "." in k}
        out["manifest.write_amp"] = self.stats["bytes_added"] / (
            self.stats["user_rows"] * self.bytes_per_row
        )
        out["manifest.live_files"] = len(m["files"])
        out["manifest.log_versions"] = len(tab.versions())
        out["lake.space_amp"] = table_bytes / live_bytes
        zone_files = zone_bytes = 0
        for z in ZONES:
            n, b = _dir_bytes(os.path.join(self.wh.root, z))
            out[f"zones.{z}_mb"] = b / 2**20
            zone_files += n
            zone_bytes += b
        out["zones.files"] = zone_files
        out["zones.bytes_per_input_byte"] = zone_bytes / self.input_bytes
        return out
