"""Config-driven pipeline job: the reference's ConfigHandler + main()
re-imagined as a spark-submit entrypoint.

A job config (JSON — the ``~/.logram`` profile analog, SURVEY §2.1
S5/S7) declares the input, the format spec, the sink filters, the
enrichment toggles, and the output base. ``run_job`` executes the full
parse → enrich → route → aggregate pipeline with checkpoint/lineage
resume, and ``main`` makes the module directly usable as::

    spark-submit --py-files logparser_spark.zip \\
        -m logparser_spark.plans.job --config job.json

Config example::

    {
      "input": "parquet:/data/pages",
      "format": "{INT:Date} {INT:Time} {STR:Level} :{CHR:,.,1}{STR:Source}: {STR:Mesg}",
      "accept_bad_format": true,
      "sinks": [
        {"name": "errors", "filter": "Level EQ ERROR"},
        {"name": "all", "filter": null}
      ],
      "enrich": true,
      "output": "/data/out",
      "buckets": 64
    }
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
from dataclasses import dataclass, field

from ..functions.formats import DEFAULT_FORMAT, compile_format
from ..operators.route import SinkSpec


@dataclass
class JobConfig:
    input: str
    output: str
    format: str = DEFAULT_FORMAT
    # name -> format string; tried in insertion order AFTER `format`
    # (the reference's runtime format swap as a declarative cascade)
    extra_formats: dict = field(default_factory=dict)
    accept_bad_format: bool = True
    sinks: list[SinkSpec] = field(default_factory=list)
    enrich: bool = True
    buckets: int = 64
    text_col: str = "text"
    key_col: str = "doc_id"
    # the only strategy: lineage-bucketed fan-out with idempotent resume
    # (plans/checkpoint.route_checkpointed — one Arrow writer stage per
    # run, writing every (sink, bucket) file and the lineage counts);
    # any other value raises ValueError in run_job
    route_strategy: str = "checkpoint"

    @classmethod
    def from_dict(cls, d: dict) -> "JobConfig":
        from ..operators.filters import resolve_filter_arg

        # each sink filter goes through the reference's argument
        # convention (:fset <path-or-text>), but declarative configs use
        # the EXPLICIT @/path marker only — bare-path probing (an
        # expression that happens to name a readable file silently
        # becoming that file's first line) stays interactive-only, so a
        # job config's semantics can't depend on the filesystem.
        sinks = [
            SinkSpec(
                s["name"],
                resolve_filter_arg(s["filter"], probe_paths=False)
                if s.get("filter") is not None else None,
                s.get("accept_bad_format", d.get("accept_bad_format", True)),
            )
            for s in d.get("sinks", [])
        ] or [SinkSpec("all", None)]
        return cls(
            input=d["input"],
            output=d["output"],
            format=d.get("format", DEFAULT_FORMAT),
            extra_formats=d.get("extra_formats", {}),
            accept_bad_format=d.get("accept_bad_format", True),
            sinks=sinks,
            enrich=d.get("enrich", True),
            buckets=d.get("buckets", 64),
            text_col=d.get("text_col", "text"),
            key_col=d.get("key_col", "doc_id"),
            route_strategy=d.get("route_strategy", "checkpoint"),
        )

    @classmethod
    def from_json(cls, path: str) -> "JobConfig":
        with open(path) as f:
            return cls.from_dict(json.load(f))


def _source_identity(cfg: JobConfig) -> dict:
    """What the lineage must have been written from, beyond the route's
    own fingerprint: the input location, each data file's relative path,
    size and mtime (for a local parquet input), and the job settings that
    shape rows before the route."""
    from ..sources.sinks import SinkTarget

    target = SinkTarget.parse(cfg.input)
    files = []
    if target.kind == "parquet" and os.path.isdir(target.location):
        for d, dirs, names in os.walk(target.location):
            dirs[:] = sorted(n for n in dirs if not n.startswith(("_", ".")))
            for n in sorted(names):
                if not n.startswith(("_", ".")):
                    st = os.stat(os.path.join(d, n))
                    rel = os.path.relpath(os.path.join(d, n), target.location)
                    files.append([rel, st.st_size, st.st_mtime_ns])
    elif target.kind == "parquet" and os.path.isfile(target.location):
        st = os.stat(target.location)
        files.append(["", st.st_size, st.st_mtime_ns])
    return {
        "input": cfg.input,
        "files": files,
        # pairs, not a dict: the cascade order matters and the digest
        # sorts dict keys
        "extra_formats": list(cfg.extra_formats.items()),
        "enrich": cfg.enrich,
        "text_col": cfg.text_col,
    }


def _write_level_hists(base: str, hists: dict) -> None:
    """Writes each sink's ``_agg/<sink>_level_hist`` table (columns
    ``Level``, ``n``, ``sink``) from the lineage sums, on the driver.
    ``_agg/_hists.json`` records what the tables hold, so an unchanged
    lineage rewrites nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    agg = os.path.join(base, "_agg")
    marker = os.path.join(agg, "_hists.json")
    state = json.dumps(hists, sort_keys=True)
    if os.path.isfile(marker):
        with open(marker) as f:
            if f.read() == state:
                return
        os.remove(marker)
    os.makedirs(agg, exist_ok=True)
    for name, hist in hists.items():
        level = pa.array([lv for lv, _ in hist])
        if pa.types.is_null(level.type):
            level = level.cast(pa.string())
        table = pa.table({
            "Level": level,
            "n": pa.array([n for _, n in hist], pa.int64()),
            "sink": pa.array([name] * len(hist), pa.string()),
        })
        dst = os.path.join(agg, f"{name}_level_hist")
        tmp = os.path.join(agg, f".{name}_level_hist.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        os.rename(tmp, dst)
    with open(marker, "w") as f:
        f.write(state)


def run_job(spark, cfg: JobConfig) -> dict:
    """Full pipeline with lineage-checkpointed routing. Returns the
    lineage metrics summary (rows / well-formed across buckets).

    The lineage is checked before the input is read: when every bucket
    is committed and the ``_agg`` tables match it, the job returns
    without launching a Spark job. A lineage written for another
    format, sink set, bucket count, key or input raises ``ValueError``.
    The route runs with the AQE skew profile (``plans.skew.skew_profile``),
    and the job leaves the session's options as it found them."""
    from ..operators import enrich as enrich_mod
    from ..operators.parse import explode_lines, parse_lines
    from ..plans import checkpoint as C
    from ..plans.skew import skew_profile
    from ..sources.sinks import SinkTarget, read_source

    if cfg.route_strategy != "checkpoint":
        raise ValueError(
            f"unknown route_strategy {cfg.route_strategy!r} "
            "(expected 'checkpoint')"
        )
    spec = compile_format(cfg.format)
    fp = C.fingerprint(spec, cfg.sinks, cfg.buckets, cfg.key_col)
    source = _source_identity(cfg)
    if len(C.verified_buckets(cfg.output, fp, source)) < cfg.buckets:
        pages = read_source(spark, SinkTarget.parse(cfg.input))
        keep = [c for c in (cfg.key_col, "url", "lang") if c in pages.columns]
        lines = explode_lines(pages, text_col=cfg.text_col, keep_cols=keep)
        if cfg.extra_formats:
            # multi-format cascade: primary format first, then the extras
            # in declaration order; the primary's struct becomes `parsed`
            # so sink filters (bound to the primary format's fields)
            # apply unchanged — lines matched only by a secondary format
            # are malformed under the primary, exactly the reference's
            # semantics before a runtime format swap.
            from ..operators.parse import parse_lines_multi

            specs = [spec] + [
                compile_format(f, name) for name, f in cfg.extra_formats.items()
            ]
            parsed = parse_lines_multi(lines, specs).withColumnRenamed(
                f"parsed_{spec.name}", "parsed"
            )
        else:
            parsed = parse_lines(lines, spec)
        if cfg.enrich and "url" in parsed.columns and "lang" in parsed.columns:
            parsed = enrich_mod.enrich_all(parsed, spark)
        # the route runs every Spark job that AQE can shape
        with skew_profile(spark):
            C.route_checkpointed(
                parsed, cfg.sinks, spec, cfg.output,
                buckets=cfg.buckets, key_col=cfg.key_col, source=source,
            )

    # per-sink level histograms, summed from the lineage entries
    _write_level_hists(cfg.output, C.sink_histograms(cfg.output))
    return C.lineage_metrics(cfg.output)


def main(argv=None):
    from pyspark.sql import SparkSession

    ap = argparse.ArgumentParser(description="logparser_spark pipeline job")
    ap.add_argument("--config", required=True)
    args = ap.parse_args(argv)

    cfg = JobConfig.from_json(args.config)
    spark = SparkSession.builder.appName("logparser-spark-job").getOrCreate()
    metrics = run_job(spark, cfg)
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
