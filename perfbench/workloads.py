"""The two workloads: how each builds its input, runs one timed pass,
checks the pass against the oracle, and cuts its pipeline into prefixes
for the traced run.

Each workload calls the package only through its public functions. The
pipelines are the shapes a user of the package would write:

- ``scan_count``: persisted in-memory pages -> ``explode_lines`` ->
  ``parse_lines_arrow`` -> ``enrich_all`` -> ``route_mask`` (7 fixture
  sinks) -> one grouped aggregate giving the per-sink counts and the
  level histogram. No disk.
- ``checkpoint_job``: parquet pages on disk -> ``run_job`` with the
  ``checkpoint`` strategy (16 buckets, 7 sinks, enrich), then ``run_job``
  again over the complete lineage. Puts sink writes beside the reads.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from inputs import Inputs, Oracle, generate, rsvp_spec
from logparser_spark.operators import enrich
from logparser_spark.operators.parse import explode_lines, parse_lines, parse_lines_arrow
from logparser_spark.operators.route import fixture_sinks, route_mask, sink_column
from logparser_spark.plans.checkpoint import route_checkpointed
from logparser_spark.plans.job import JobConfig, run_job
from logparser_spark.sources.sinks import SinkTarget, read_source

# input partitions: several per slot, so one slow task does not hold a pass
PARTITIONS = 8


def _pages_table(inputs: Inputs, rows=None):
    import pyarrow as pa

    table = pa.table(inputs.columns)
    return table if rows is None else table.slice(0, rows)


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """One workload. ``load`` puts the inputs into a session; ``run``
    times one pass and returns its outputs; ``check`` compares outputs
    with the oracle; ``cuts`` lists the prefixes of the traced run."""

    name: str
    input_lines: int
    warm_share = 0.05  # share of the pages the warm-up pass reads

    def __init__(self, seed: int, work_dir: str):
        self.work_dir = work_dir
        t0 = time.perf_counter()
        self.inputs = generate(self.input_lines, seed)
        self.gen_s = time.perf_counter() - t0
        self.spec = rsvp_spec()
        self.sinks = fixture_sinks()
        self.oracle = Oracle(self.inputs, self.spec, self.sinks)
        self.warm_pages = max(1, int(self.inputs.pages * self.warm_share))

    @property
    def lines(self) -> int:
        return self.inputs.lines

    def compile_sinks(self):
        """Driver-side routing compile: every sink's DSL parsed and lowered
        to a Column."""
        return [sink_column(s, self.spec) for s in self.sinks]


class ScanCount(Workload):
    """The pass is ``result(pages)`` over pages persisted in memory; the
    traced prefixes are its intermediate frames."""

    name = "scan_count"
    input_lines = 1_000_000

    def __init__(self, seed, work_dir):
        super().__init__(seed, work_dir)
        self.expected = self._expected()

    def load(self, spark):
        from pyspark import StorageLevel

        from pyspark.sql import functions as F

        table = _pages_table(self.inputs)
        self.source_bytes = table.nbytes
        self.pages = (spark.createDataFrame(table).repartition(PARTITIONS, "doc_id")
                      .persist(StorageLevel.MEMORY_ONLY))
        self.pages.count()
        cutoff = int(self.inputs.columns["doc_id"][self.warm_pages])
        self.warm = self.pages.filter(F.col("doc_id") < cutoff)

    def unload(self):
        self.pages.unpersist()

    def warm_up(self, spark):
        self.result(spark, self.warm)

    def run(self, spark, resume=True) -> dict:
        t0 = time.perf_counter()
        out = self.result(spark, self.pages)
        return {"seconds": time.perf_counter() - t0, "out": out}

    def cuts(self, spark):
        frames = self.frames(spark, self.pages)
        cuts = [(layer, (lambda f=f: _noop(f))) for layer, f in frames]
        cuts.append(("aggregate", lambda: self.result(spark, self.pages)))
        return cuts

    def _expected(self) -> dict:
        oracle = self.oracle
        page = self.inputs.page_of_line
        lang = [self.inputs.columns["lang"][p] for p in range(self.inputs.pages)]
        tld = [u.split("/")[2].rsplit(".", 1)[1] for u in self.inputs.columns["url"]]
        named = {r[0] for r in enrich.LANG_DIM}
        cc = {r[0] for r in enrich.TLD_DIM if r[2]}
        severity = {r[0]: r[1] for r in enrich.STATUS_DIM}
        per_page = np.bincount(page, minlength=self.inputs.pages).tolist()
        hist = oracle.level_histogram()
        return {
            "sinks": oracle.sink_counts(),
            "levels": hist,
            "severity_sum": sum(severity.get(k, 0) * n for k, n in hist.items() if k),
            "lang_named": sum(n for p, n in enumerate(per_page) if lang[p] in named),
            "tld_cc": sum(n for p, n in enumerate(per_page) if tld[p] in cc),
            "well_formed": oracle.well_formed(),
        }

    def frames(self, spark, pages):
        lines = explode_lines(pages, keep_cols=["doc_id", "url", "lang"])
        parsed = parse_lines_arrow(lines, self.spec, drop_cols=["raw_line"])
        enriched = enrich.enrich_all(parsed, spark)
        routed = route_mask(enriched, self.sinks, self.spec)
        return [("sources", pages), ("explode", lines), ("parse", parsed),
                ("enrich", enriched), ("route", routed)]

    def result(self, spark, pages) -> dict:
        from pyspark.sql import functions as F

        routed = self.frames(spark, pages)[-1][1]
        aggs = [F.count(F.lit(1)).alias("n"),
                F.sum("severity").alias("severity_sum"),
                F.count("lang_name").alias("lang_named"),
                F.sum(F.col("is_cc").cast("long")).alias("tld_cc")]
        aggs += [F.sum(F.col(f"route_{s.name}").cast("long")).alias(s.name)
                 for s in self.sinks]
        rows = routed.groupBy("level").agg(*aggs).collect()
        return {
            "sinks": {s.name: sum(int(r[s.name] or 0) for r in rows) for s in self.sinks},
            "levels": {r["level"]: int(r["n"]) for r in rows},
            "severity_sum": sum(int(r["severity_sum"] or 0) for r in rows),
            "lang_named": sum(int(r["lang_named"]) for r in rows),
            "tld_cc": sum(int(r["tld_cc"] or 0) for r in rows),
        }

    def check(self, out) -> bool:
        return all(out[k] == self.expected[k] for k in out)


class CheckpointJob(Workload):
    name = "checkpoint_job"
    input_lines = 100_000
    BUCKETS = 16

    def __init__(self, seed, work_dir):
        super().__init__(seed, work_dir)
        well_formed = self.oracle.well_formed()
        self.expected = {
            "sinks": self.oracle.sink_counts(),
            "lineage": {"buckets": self.BUCKETS, "rows": self.lines,
                        "well_formed_rows": well_formed},
            "well_formed": well_formed,
        }
        self._runs = 0
        # the stored pages are part of the generated input, written once;
        # two files, as Spark's local[2] writer would leave them
        t0 = time.perf_counter()
        self.pages_path = os.path.join(work_dir, "pages")
        self.warm_path = os.path.join(work_dir, "warm_pages")
        self.source_bytes = _write_parquet(_pages_table(self.inputs), self.pages_path)
        _write_parquet(_pages_table(self.inputs, self.warm_pages), self.warm_path)
        self.gen_s += time.perf_counter() - t0

    def load(self, spark):
        pass

    def unload(self):
        shutil.rmtree(self.pages_path, ignore_errors=True)
        shutil.rmtree(self.warm_path, ignore_errors=True)

    def _config(self, src: str, out: str) -> JobConfig:
        return JobConfig(input=f"parquet:{src}", output=out, sinks=self.sinks,
                         enrich=True, buckets=self.BUCKETS, route_strategy="checkpoint")

    def _out_dir(self) -> str:
        self._runs += 1
        return os.path.join(self.work_dir, f"job_{self._runs}")

    def warm_up(self, spark):
        """The job's frames through enrich over the warm-up pages: starts
        the Python workers and runs every parse and join once. A whole job
        would cost about as much as a timed one, since a job is mostly
        fixed per-job work; the writers warm up in the untimed pass that
        precedes the timed ones."""
        _noop(self.frames(spark, self.warm_path)[-1][1])

    def run(self, spark, resume=True) -> dict:
        """The job, then, with ``resume``, the job again over its complete
        lineage."""
        out = self._out_dir()
        cfg = self._config(self.pages_path, out)
        res = {"out": {}}
        try:
            t0 = time.perf_counter()
            res["out"]["lineage"] = run_job(spark, cfg)
            res["seconds"] = time.perf_counter() - t0
            res["out"]["resumed"] = []
            if resume:
                t0 = time.perf_counter()
                res["out"]["resumed"].append(run_job(spark, cfg))
                res["resume_seconds"] = time.perf_counter() - t0
            res["out"]["sinks"] = _sink_counts(out, self.sinks)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return res

    def check(self, out) -> bool:
        return (out["sinks"] == self.expected["sinks"]
                and out["lineage"] == self.expected["lineage"]
                and all(r == self.expected["lineage"] for r in out["resumed"]))

    def frames(self, spark, path=None):
        pages = read_source(spark, SinkTarget.parse(f"parquet:{path or self.pages_path}"))
        lines = explode_lines(pages, keep_cols=["doc_id", "url", "lang"])
        parsed = parse_lines(lines, self.spec)
        enriched = enrich.enrich_all(parsed, spark)
        return [("sources", pages), ("explode", lines), ("parse", parsed),
                ("enrich", enriched)]

    def cuts(self, spark):
        """Prefixes of ``run_job``: the frames it builds, then
        ``route_checkpointed`` alone, then the whole job (which adds the
        per-sink histogram writes). The lineage check and the resume are
        timed after the chain, over the job's complete lineage."""
        frames = self.frames(spark)
        enriched = frames[-1][1]
        state = {}

        def checkpoint():
            out = self._out_dir()
            state["route"] = route_checkpointed(enriched, self.sinks, self.spec, out,
                                                buckets=self.BUCKETS, key_col="doc_id")
            shutil.rmtree(out, ignore_errors=True)

        def job():
            state["out"] = self._out_dir()
            state["lineage"] = run_job(spark, self._config(self.pages_path, state["out"]))

        cuts = [(layer, (lambda f=f: _noop(f))) for layer, f in frames]
        cuts += [("checkpoint", checkpoint), ("hist", job)]
        self.cut_state = state
        return cuts

    def after_cuts(self, spark) -> dict:
        """Times the lineage check over the job the chain just wrote,
        resumes that job, then removes it."""
        out = self.cut_state["out"]
        try:
            t0 = time.perf_counter()
            route_checkpointed(self.frames(spark)[-1][1], self.sinks, self.spec, out,
                               buckets=self.BUCKETS, key_col="doc_id")
            t1 = time.perf_counter()
            resumed = run_job(spark, self._config(self.pages_path, out))
            files = _data_files(out)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return {"lineage_s": t1 - t0, "files": files,
                "buckets": len(self.cut_state["route"]["processed"]),
                "ok": self.cut_state["lineage"] == resumed == self.expected["lineage"]}


def _write_parquet(table, path: str, files: int = 2) -> int:
    """Writes ``table`` as ``files`` parquet files; returns their bytes."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
    return sum(os.path.getsize(os.path.join(path, n)) for n in os.listdir(path))


def _sink_counts(base, sinks) -> dict:
    """Rows in each sink's output, from its parquet footers: no Spark job,
    so the check adds little to a pass."""
    import pyarrow.parquet as pq

    return {s.name: sum(pq.ParquetFile(os.path.join(d, n)).metadata.num_rows
                        for d, _, names in os.walk(os.path.join(base, s.name))
                        for n in names if n.startswith("part-") and n.endswith(".parquet"))
            for s in sinks}


def _data_files(root: str) -> int:
    """Data files written under ``root``, lineage entries excluded."""
    return sum(n.startswith("part-") for d, _, names in os.walk(root)
               if "_lineage" not in d for n in names)


WORKLOADS = {w.name: w for w in (ScanCount, CheckpointJob)}
