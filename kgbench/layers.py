"""Traced, layer-by-layer runs and the Spark event-log reader.

The staged functions call each layer's public `csvweb_spark` functions in
the order the pipeline composes them, materialize at every layer boundary
(`localCheckpoint(eager=True)`), and run each layer under its own Spark job
group. `EventLog` reads the event log the traced session writes and sums
jobs, stages, tasks, executor CPU, GC, shuffle writes and Python-worker time
per job group. The benchmark compares the staged output digest against the
plain pipeline call, so the staging cannot drift from `pipeline.py`.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    """Spans kept in memory: (name, start, end) in epoch seconds. Each span
    runs its Spark jobs under job group `name`."""

    IDLE = "bench.idle"

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))
            self.sc.setJobGroup(self.IDLE, self.IDLE)

    def seconds(self, *names) -> float:
        return sum(e - s for n, s, e in self.spans if n in names)


def _observed(df, **aggs):
    from pyspark.sql import Observation
    obs = Observation()
    return df.observe(obs, *[c.alias(k) for k, c in aggs.items()]), obs


def staged_kg(spark, pages, table, aliases, out_dir: str, n_buckets: int,
              tracer: Tracer) -> dict:
    """Stages A-E of `pipeline.build_knowledge_graph`, one layer per span.
    Returns the layer counts; timings and job counts come from the spans
    and the event log."""
    from pyspark.sql import functions as F

    from csvweb_spark.csvw.convert import MODE_MINIMAL
    from csvweb_spark.operators.canonicalize import (
        canonicalize_triples, connected_components, edges_from_uris)
    from csvweb_spark.operators.triples import (
        compile_triples_with_errors, extract_rows)
    from csvweb_spark.pipeline import link_triple_objects
    from csvweb_spark.plans.lineage import write_resumable

    one = F.count(F.lit(1))
    with tracer.span("triples.extract"):
        rows, o_rows = _observed(extract_rows(pages, table), n=one)
        rows = rows.localCheckpoint(eager=True)
    with tracer.span("triples.compile"):
        triples, errors = compile_triples_with_errors(
            rows, table, table.columns, MODE_MINIMAL, True)
        triples, o_tri = _observed(
            triples, n=one,
            lit=F.count(F.when(F.col("obj_kind") == "literal", 1)))
        triples = triples.localCheckpoint(eager=True)
        errors, o_err = _observed(errors, n=one)
        errors = errors.localCheckpoint(eager=True)
    with tracer.span("linking.link"):
        edges_uri, o_edges = _observed(
            link_triple_objects(triples, aliases), n=one)
        edges_uri = edges_uri.localCheckpoint(eager=True)
    with tracer.span("canonicalize.cc"):
        labels = connected_components(edges_from_uris(edges_uri)) \
            .localCheckpoint(eager=True)
    with tracer.span("canonicalize.rewrite"):
        # the tail of pipeline.kg_canonical_triples
        uri_nodes = (edges_uri.select(F.col("src").alias("uri"))
                     .unionByName(edges_uri.select(F.col("dst").alias("uri")))
                     .distinct()
                     .withColumn("node", F.xxhash64("uri")))
        comp = uri_nodes.join(labels, "node", "left").select(
            "uri", "node", F.coalesce("component", "node").alias("component"))
        canon = (comp.groupBy("component")
                 .agg(F.min("uri").alias("canonical_uri")))
        entity_map = comp.join(canon, "component").select(
            "node", "uri", "component", "canonical_uri") \
            .localCheckpoint(eager=True)
        canonical = canonicalize_triples(
            triples, entity_map.select(
                "node", F.col("canonical_uri").alias("canonical"))) \
            .localCheckpoint(eager=True)
    with tracer.span("lineage.commit"):
        manifests = [
            write_resumable(canonical, os.path.join(out_dir, "triples"),
                            n_buckets=n_buckets),
            write_resumable(entity_map.withColumn("url", F.col("uri")),
                            os.path.join(out_dir, "entities"),
                            n_buckets=max(n_buckets // 4, 1)),
            write_resumable(errors, os.path.join(out_dir, "errors"),
                            n_buckets=max(n_buckets // 4, 1))]
    with tracer.span("bench.aux"):
        sizes = [r[0] for r in labels.groupBy("component").count()
                 .select("count").collect()]
    return {
        "rows_in": int(o_rows.get["n"]),
        "triples_out": int(o_tri.get["n"]),
        "mentions": int(o_tri.get["lit"]),
        "cell_errors": int(o_err.get["n"]),
        "edges": int(o_edges.get["n"]),
        "components": len(sizes),
        "max_component_share": max(sizes) / max(sum(sizes), 1),
        "rows_committed": sum(m["total_rows"] for m in manifests),
    }


def staged_csvw(pages, meta, out_dir: str, tracer: Tracer) -> dict:
    """join_metadata_sidecar -> convert_pages_spark -> to_ntriples, one
    layer per span."""
    from pyspark.sql import functions as F

    from csvweb_spark.operators.serialize import to_ntriples
    from csvweb_spark.operators.triples import (
        convert_pages_spark, join_metadata_sidecar)

    one = F.count(F.lit(1))
    with tracer.span("csvw.sidecar_join"):
        joined, o_pages = _observed(join_metadata_sidecar(pages, meta), n=one)
        joined = joined.localCheckpoint(eager=True)
    with tracer.span("csvw.convert"):
        triples, o_tri = _observed(convert_pages_spark(joined), n=one)
        triples = triples.localCheckpoint(eager=True)
    with tracer.span("serialize.write"):
        to_ntriples(triples).write.text(out_dir)
    return {"pages": int(o_pages.get["n"]),
            "triples_out": int(o_tri.get["n"])}


class EventLog:
    """Per-job-group totals from one application's Spark event log."""

    PY_TIME = "time to run Python workers"

    def __init__(self, path: str):
        jobs, stage_job, stages = {}, {}, {}
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    jobs[e["Job ID"]] = {"group": group,
                                         "start": e["Submission Time"] / 1e3,
                                         "end": None}
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, e["Job ID"])
                elif ev == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    acc = {a["Name"]: a.get("Value")
                           for a in info.get("Accumulables", [])}
                    stages[info["Stage ID"]] = {
                        "tasks": info["Number of Tasks"],
                        "cpu_s": float(acc.get(
                            "internal.metrics.executorCpuTime", 0)) / 1e9,
                        "gc_s": float(acc.get(
                            "internal.metrics.jvmGCTime", 0)) / 1e3,
                        "shuffle_bytes": int(acc.get(
                            "internal.metrics.shuffle.write.bytesWritten", 0)),
                        "py_s": float(acc.get(self.PY_TIME, 0)) / 1e3,
                    }
        self.jobs = jobs
        self.stages = {sid: dict(s, group=jobs[stage_job[sid]]["group"])
                       for sid, s in stages.items() if sid in stage_job}

    def totals(self, *groups) -> dict:
        js = [j for j in self.jobs.values() if j["group"] in groups]
        ss = [s for s in self.stages.values() if s["group"] in groups]
        busy, cur_s, cur_e = 0.0, None, None
        for j in sorted(js, key=lambda j: j["start"]):
            end = j["end"] if j["end"] is not None else j["start"]
            if cur_e is None or j["start"] > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = j["start"], end
            else:
                cur_e = max(cur_e, end)
        if cur_e is not None:
            busy += cur_e - cur_s
        return {"jobs": len(js), "stages": len(ss),
                "tasks": sum(s["tasks"] for s in ss),
                "job_busy_s": busy,
                "cpu_s": sum(s["cpu_s"] for s in ss),
                "gc_s": sum(s["gc_s"] for s in ss),
                "shuffle_bytes": sum(s["shuffle_bytes"] for s in ss),
                "py_s": sum(s["py_s"] for s in ss)}


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {names}")
    return os.path.join(log_dir, names[0])
