"""Seeded knowledge-graph construction benchmark for csvweb_spark.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. The generator (`gen.py`) writes the inputs
for the seed under `.kgbench/` and computes the expected outputs without
importing csvweb_spark; the program only receives the generated files.
Every unit of work (one build, one conversion) is checked against those
expectations; a mismatch or an exception counts as failed, and a run with
a failure prints `"correct": false` and exits 1.

Workloads (why each exists is recorded in BENCHMARK.json):

* kg_build   - pipeline.build_knowledge_graph (stages A-E) over Zipf
               hub-skewed documents rendered as CSV pages
* csvw_typed - join_metadata_sidecar -> convert_pages_spark -> to_ntriples
               over heterogeneous typed CSVW pages, written as text

End-to-end metrics (`--trace 0`):

* rows_per_s           source CSV rows per unit / median unit seconds
                       (a unit is a whole build or a whole conversion;
                       kg_build times two builds, csvw_typed at least three
                       conversions and at least --seconds)
* setup_s              session start + median of three input loads + one
                       untimed warm-up unit
* peak_rss_mb          peak RSS of the JVM plus PSS of its Python workers
                       during a timed unit, median over the units; a full
                       JVM GC before each unit gives every unit the same
                       starting heap
* out_bytes_per_triple committed bytes (data, manifests) per output triple

Failed units are the result line's `failed` out of `attempted`.

`--trace 1` runs the same setup in a session with the Spark event log on,
then one plain unit under job group `pipeline` (the pipeline.* metrics),
then the layer-by-layer run of `layers.py` (one job group per layer), and
on kg_build a streaming.pipeline.stream_knowledge_graph run over the
batch files, one micro-batch each (the streaming.* metrics: medians over
the batches after the first, which runs on a cold query). It prints
every per-layer metric, 0 for a layer the workload does not run.
trace.overhead_rows_per_s is the staged run's rows/s minus the plain
unit's, both in the traced session.

Which end-to-end metric each layer should move (workload in brackets):
triples.*, linking.*, canonicalize.* -> rows_per_s [kg_build], unchanged
on csvw_typed; csvw.*, serialize.* -> rows_per_s [csvw_typed], little
effect on kg_build; lineage.* -> out_bytes_per_triple [both];
pipeline.* -> rows_per_s [both]; streaming.* -> micro-batch latency,
which has no end-to-end metric here (measured in the kg_build trace);
setup.* -> setup_s.

The line before the result is a JSON host-context record: nproc, the
host's busy and stolen cores over the run, a fixed Python loop's seconds
at the start and end (host speed), the seed, the sizes and the unit
seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402

# Sizes: each run times at least `min_units` units and reports their
# median. A kg_build build is bound by the driver: on a 4-core host a warm
# build takes 10-16 s for 2,000 docs and for 5,000 alike (a per-job floor
# over ~70 jobs), and the session start and cold warm-up build take
# another 32-40 s. Two timed builds keep a whole run at 65-95 s, short
# enough to repeat over ten seeds twice within an hour together with
# csvw_typed. `cores` is the local[n] Spark master.
SIZES = {
    "kg_build": {"n_docs": 5_000, "batch_docs": 500, "min_units": 2,
                 "cores": 4},
    "csvw_typed": {"n_pages": 2000, "rows_per_page": 5, "min_units": 3,
                   "cores": 4},
}
BUILD_BUCKETS = 64  # build_knowledge_graph's default
INPUT_LOADS = 3

E2E_UNITS = {"rows_per_s": "rows/s", "setup_s": "s", "peak_rss_mb": "MiB",
             "out_bytes_per_triple": "B/triple"}

# per-layer metric -> unit; every workload prints all of them, with 0 for
# a layer the workload does not run
PER_LAYER = {
    "triples.extract_s": "s", "triples.compile_s": "s",
    "triples.jobs": "count",
    "triples.rows_in": "rows", "triples.triples_out": "triples",
    "triples.cell_errors": "count", "triples.python_udf_s": "s",
    "csvw.sidecar_join_s": "s", "csvw.convert_s": "s", "csvw.pages": "count",
    "csvw.triples_out": "triples", "csvw.python_udf_s": "s",
    "linking.link_s": "s", "linking.mentions": "count",
    "linking.links": "count", "linking.hit_ratio": "ratio",
    "canonicalize.cc_s": "s", "canonicalize.cc_jobs": "count",
    "canonicalize.edges": "count", "canonicalize.components": "count",
    "canonicalize.max_component_share": "ratio",
    "canonicalize.rewrite_s": "s", "canonicalize.shuffle_write_bytes": "B",
    "lineage.commit_s": "s", "lineage.rows_committed": "rows",
    "lineage.files_written": "count", "lineage.bytes_written": "B",
    "lineage.jobs": "count",
    "serialize.write_s": "s", "serialize.bytes_out": "B",
    "pipeline.plan_s": "s", "pipeline.jobs": "count",
    "pipeline.stages": "count", "pipeline.tasks": "count",
    "pipeline.driver_gap_s": "s", "pipeline.executor_cpu_s": "s",
    "pipeline.gc_s": "s", "pipeline.shuffle_write_bytes": "B",
    "streaming.batches": "count", "streaming.add_batch_p50_s": "s",
    "streaming.trigger_overhead_p50_s": "s",
    "streaming.query_planning_p50_s": "s",
    "setup.session_s": "s", "setup.input_load_s": "s", "setup.warmup_s": "s",
    "trace.overhead_rows_per_s": "rows/s",
}


class Mismatch(Exception):
    """The program's committed output differs from the expected output."""


# --------------------------------------------------------------------------
# Host and process measurements
# --------------------------------------------------------------------------

def _cpu_stat():
    with open("/proc/stat") as f:
        v = list(map(int, f.readline().split()[1:9]))
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]  # busy ticks, steal ticks


def _host_loop_s() -> float:
    """Seconds for a fixed pure-Python loop: the host's speed right now,
    to tell a slow host from a slow program when comparing runs."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t0


def _descendants(root: int) -> list:
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _memory_bytes(jvm: int) -> int:
    """RSS of the JVM plus PSS of the Python processes under it. PSS
    splits the pages a forked worker still shares with its daemon; other
    children (a fork the JVM is about to exec, which briefly reports the
    JVM's own pages) are not counted."""
    total = 0
    try:
        with open(f"/proc/{jvm}/statm") as f:
            total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0
    for pid in _descendants(jvm):
        try:
            if not os.path.basename(os.readlink(f"/proc/{pid}/exe")) \
                    .startswith("python"):
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemorySampler(threading.Thread):
    """Peak of `_memory_bytes` since the last `reset`, sampled every
    `interval` seconds."""

    def __init__(self, jvm: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.jvm = jvm
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop_ev = threading.Event()

    def run(self):
        while not self._stop_ev.is_set():
            v = _memory_bytes(self.jvm)
            with self._lock:
                self.peak = max(self.peak, v)
            self._stop_ev.wait(self.interval)

    def reset(self) -> float:
        """Returns the peak in MiB and starts a new one."""
        with self._lock:
            peak, self.peak = self.peak, 0
        return peak / 2 ** 20

    def stop(self) -> None:
        self._stop_ev.set()
        self.join(timeout=10)


def _du(path: str) -> tuple:
    """(bytes, files) under path."""
    n_bytes = n_files = 0
    for d, _dirs, files in os.walk(path):
        for fn in files:
            n_bytes += os.path.getsize(os.path.join(d, fn))
            n_files += 1
    return n_bytes, n_files


# --------------------------------------------------------------------------
# Session
# --------------------------------------------------------------------------

def start_session(work: str, cores: int, event_log_dir: str | None):
    from pyspark.sql import SparkSession

    # every JVM, the spark-submit launcher's too, keeps its temporary
    # files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("kgbench")
         .config("spark.driver.memory", "2g")
         .config("spark.local.dir", os.path.join(work, "local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_log_dir:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process instead of to
    init, so that a process whose parent exits first (a child the JVM
    forked, a Python worker daemon) is still found, waited for and reaped
    by `stop_descendants`."""
    try:
        import ctypes
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER,
                                                1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 20.0) -> None:
    """Wait until every descendant process has exited and been reaped (an
    exited child left unreaped would outlive this process); after `grace`
    seconds send the rest SIGTERM, five seconds later SIGKILL."""
    live: list = []
    for sig, wait_s in ((None, grace), (signal.SIGTERM, 5),
                        (signal.SIGKILL, 10)):
        for pid in live if sig else ():
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.time() + wait_s
        while True:
            _reap()
            live = _descendants(os.getpid())
            if not live:
                return
            if time.time() > deadline:
                break
            time.sleep(0.05)


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every worker has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        stop_descendants()


# --------------------------------------------------------------------------
# Output checks (pyarrow only: the checker never asks the program)
# --------------------------------------------------------------------------

_TRIPLE_COLS = ["subj", "pred", "obj", "obj_kind", "obj_datatype", "obj_lang"]


def _committed_rows(table_dir: str) -> int:
    mdir = os.path.join(table_dir, "_manifests")
    if not os.path.isdir(mdir):
        return 0
    total = 0
    for fn in os.listdir(mdir):
        if fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                total += json.load(f)["total_rows"]
    return total


def _read_table(table_dir: str, cols: list) -> list:
    import pyarrow.parquet as pq

    data = os.path.join(table_dir, "data")
    if not os.path.isdir(data):
        return []
    t = pq.read_table(data, columns=cols).to_pydict()
    return list(zip(*(t[c] for c in cols)))


def kg_output(out_dir: str) -> dict:
    """Digests of one committed build (or one micro-batch directory)."""
    triples = _read_table(os.path.join(out_dir, "triples"), _TRIPLE_COLS)
    ents = _read_table(os.path.join(out_dir, "entities"),
                       ["uri", "canonical_uri"])
    got = {"triples": len(triples),
           "triples_digest": gen.digest(gen.nt_line(*t) for t in triples),
           "entities": len(ents),
           "entities_digest": gen.digest(f"{u} {c}" for u, c in ents),
           "cell_errors": _committed_rows(os.path.join(out_dir, "errors"))}
    for table, n in (("triples", len(triples)), ("entities", len(ents))):
        committed = _committed_rows(os.path.join(out_dir, table))
        if committed != n:
            raise Mismatch(f"{table}: manifests commit {committed} rows, "
                           f"data holds {n}")
    return got


def check_kg(got: dict, want: dict) -> None:
    keys = ("triples", "triples_digest", "entities", "entities_digest",
            "cell_errors")
    bad = {k: (got[k], want[k]) for k in keys if got[k] != want[k]}
    if bad:
        raise Mismatch(f"kg output differs (got, want): {bad}")


def nt_output(out_dir: str, want: dict) -> dict:
    """Digest and invalid-cell count of a written N-Triples directory."""
    lines = []
    for fn in sorted(os.listdir(out_dir)):
        if fn.startswith("part-"):
            with open(os.path.join(out_dir, fn), encoding="utf-8",
                      newline="") as f:
                part = f.read().split("\n")
            lines.extend(part[:-1] if part[-1] == "" else part)
    return {"triples": len(lines), "triples_digest": gen.digest(lines),
            "cell_errors": gen.count_invalid_cells(lines, want["typed_preds"])}


def check_nt(got: dict, want: dict) -> None:
    bad = {k: (v, want[k]) for k, v in got.items() if v != want[k]}
    if bad:
        raise Mismatch(f"N-Triples output differs (got, want): {bad}")


# --------------------------------------------------------------------------
# Workloads: inputs, one unit of work, the traced staged run
# --------------------------------------------------------------------------

class Workload:
    """Inputs under `work/in`, expectations in `self.want`. `unit()` runs
    one timed, checked unit and returns (seconds, output digests, committed
    bytes); `staged(tracer)` runs the layer-by-layer version."""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.dir = os.path.join(work, "in")
        self.spark = None
        self.n_out = 0
        self.want = self.generate(seed)

    def out_dir(self, tag: str) -> str:
        self.n_out += 1
        return os.path.join(self.work, "out", f"{tag}-{self.n_out}")

    def read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.dir, name))


def _docs_table():
    """The pages' CSVW table, parsed from metadata like any user's."""
    from csvweb_spark.csvw.parse_meta import parse_metadata
    meta = {"@context": "http://www.w3.org/ns/csvw",
            "url": "http://pages.example.org/docs.csv",
            "tableSchema": {
                "aboutUrl": gen.DOC_URI,
                "columns": [{"name": c, "titles": c,
                             **({"datatype": "integer"}
                                if c in ("doc_id", "n_chars") else {})}
                            for c in gen.DOC_COLUMNS]}}
    return parse_metadata(json.dumps(meta), meta["url"]).tables[0]


class KgBuild(Workload):
    name = "kg_build"

    def generate(self, seed: int) -> dict:
        s = SIZES[self.name]
        return gen.write_kg_build(self.dir, seed, s["n_docs"], s["batch_docs"])

    def load(self) -> None:
        self.table = _docs_table()
        self.pages = self.read("pages")
        self.aliases = self.read("aliases.parquet")
        if (self.pages.count() * gen.DOCS_PER_PAGE != self.want["rows"]
                or self.aliases.count() != 2 * gen.N_HUBS):
            raise Mismatch("input row counts differ from the generator's")

    def unit(self):
        from csvweb_spark.pipeline import build_knowledge_graph
        out = self.out_dir("build")
        t0 = time.perf_counter()
        build_knowledge_graph(self.spark, self.pages, self.table,
                              self.aliases, out)
        dt = time.perf_counter() - t0
        got = kg_output(out)
        check_kg(got, self.want)
        return dt, got, _du(out)[0]

    def plan_seconds(self) -> float:
        from csvweb_spark.pipeline import kg_canonical_triples
        t0 = time.perf_counter()
        kg_canonical_triples(self.pages, self.table, self.aliases)
        return time.perf_counter() - t0

    def staged(self, tracer):
        out = self.out_dir("staged")
        counts = layers.staged_kg(self.spark, self.pages, self.table,
                                  self.aliases, out, BUILD_BUCKETS, tracer)
        got = kg_output(out)
        check_kg(got, self.want)
        return counts, got, out

    def stream(self) -> list:
        """The `batch` files through stream_knowledge_graph, one file per
        micro-batch; returns the progress records of the batches in order.
        Each batch's output must equal one of the files' expected outputs,
        every file's once."""
        from csvweb_spark.streaming.pipeline import stream_knowledge_graph
        out = self.out_dir("stream")
        q = stream_knowledge_graph(
            self.spark, os.path.join(self.dir, "batch"), out,
            self.out_dir("checkpoint"), self.table, self.aliases,
            max_files_per_trigger=1)
        q.awaitTermination()
        progress = sorted((p for p in q.recentProgress
                           if p["numInputRows"] > 0),
                          key=lambda p: p["batchId"])
        wants = list(self.want["batch_files"])
        batches = [d for d in os.listdir(out) if d.startswith("batch=")]
        if len(batches) != len(wants) or len(progress) != len(wants):
            raise Mismatch(f"{len(batches)} batch dirs, {len(progress)} "
                           f"progress records; want {len(wants)}")
        for b in batches:
            got = kg_output(os.path.join(out, b))
            match = [w for w in wants
                     if w["triples_digest"] == got["triples_digest"]]
            if not match:
                raise Mismatch(f"{b}: output matches no batch file")
            check_kg(got, match[0])
            wants.remove(match[0])
        return progress


class CsvwTyped(Workload):
    name = "csvw_typed"

    def generate(self, seed: int) -> dict:
        s = SIZES[self.name]
        return gen.write_csvw_typed(self.dir, seed, s["n_pages"],
                                    s["rows_per_page"])

    def load(self) -> None:
        self.pages = self.read("pages")
        self.meta = self.read("meta.parquet")
        if (self.pages.count() != self.want["pages"]
                or self.meta.count() != self.want["sidecars"]):
            raise Mismatch("input row counts differ from the generator's")

    def _compose(self):
        from csvweb_spark.operators.serialize import to_ntriples
        from csvweb_spark.operators.triples import (
            convert_pages_spark, join_metadata_sidecar)
        return to_ntriples(convert_pages_spark(
            join_metadata_sidecar(self.pages, self.meta)))

    def unit(self):
        out = self.out_dir("nt")
        t0 = time.perf_counter()
        self._compose().write.text(out)
        dt = time.perf_counter() - t0
        got = nt_output(out, self.want)
        check_nt(got, self.want)
        return dt, got, _du(out)[0]

    def plan_seconds(self) -> float:
        t0 = time.perf_counter()
        self._compose()
        return time.perf_counter() - t0

    def staged(self, tracer):
        out = self.out_dir("staged")
        counts = layers.staged_csvw(self.pages, self.meta, out, tracer)
        got = nt_output(out, self.want)
        check_nt(got, self.want)
        return counts, got, out


WORKLOADS = {w.name: w for w in (KgBuild, CsvwTyped)}


# --------------------------------------------------------------------------
# Runs
# --------------------------------------------------------------------------

class Counter:
    """Attempted and failed units of work."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, fn):
        """One checked unit; a mismatch or an exception counts as failed
        and returns None."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - reported and counted
            self.failed += 1
            traceback.print_exc()
            return None


def setup(wl, counter: Counter) -> dict:
    t_load = []
    for _ in range(INPUT_LOADS):
        t0 = time.perf_counter()
        wl.load()
        t_load.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    # untimed, on the same input as the timed units: the first unit runs
    # on a cold JVM (code generation, JIT), and a warm-up on the timed
    # input leaves the first timed build closer to the second than a
    # warm-up on a smaller input does
    counter.run(wl.unit)
    return {"input_load_s": statistics.median(t_load),
            "warmup_s": time.perf_counter() - t0}


def measure(wl, counter: Counter, seconds: float,
            memory: MemorySampler) -> dict:
    """Units until `seconds` have passed (at least `min_units`)."""
    lat, peaks, out_bytes = [], [], 0
    t_end = time.perf_counter() + seconds
    min_units = SIZES[wl.name]["min_units"]
    while len(lat) < min_units or time.perf_counter() < t_end:
        wl.spark.sparkContext._jvm.java.lang.System.gc()
        memory.reset()
        r = counter.run(wl.unit)
        if r is None:
            break
        peaks.append(memory.reset())
        lat.append(r[0])
        out_bytes += r[2]
    if counter.failed:
        return {}
    p50 = statistics.median(lat)
    return {"unit_seconds": lat, "rows_per_s": wl.want["rows"] / p50,
            "peak_rss_mb": statistics.median(peaks),
            "unit_peak_rss_mb": [round(p) for p in peaks],
            "out_bytes_per_triple":
                out_bytes / (len(lat) * wl.want["triples"])}


def p50(values) -> float:
    return statistics.median(values) if values else 0.0


def traced(wl, counter: Counter, tracer) -> dict:
    """A plain unit under job group `pipeline`, the composition's planning
    time, the staged run and (kg_build) the streamed micro-batches."""
    sc = wl.spark.sparkContext
    sc.setJobGroup("pipeline", "pipeline")
    plain = counter.run(wl.unit)
    sc.setJobGroup(tracer.IDLE, tracer.IDLE)
    if plain is None:
        return {}
    with tracer.span("pipeline.plan"):
        plan_s = counter.run(wl.plan_seconds)
    staged = counter.run(lambda: wl.staged(tracer))
    if staged is not None and staged[1] != plain[1]:
        counter.failed += 1
        print(f"staged output {staged[1]} differs from the pipeline's "
              f"{plain[1]}", file=sys.stderr)
    progress = (counter.run(wl.stream) if isinstance(wl, KgBuild) else [])
    return {"plain": plain, "plan_s": plan_s, "staged": staged,
            "progress": progress or []}


STAGED_LAYERS = ("triples", "linking", "canonicalize", "lineage", "csvw",
                 "serialize")


def layer_metrics(wl, t: dict, tracer, log: layers.EventLog,
                  setup_m: dict) -> dict:
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({"setup.session_s": setup_m["session_s"],
              "setup.input_load_s": setup_m["input_load_s"],
              "setup.warmup_s": setup_m["warmup_s"],
              "pipeline.plan_s": t["plan_s"]})
    pipe = log.totals("pipeline")
    plain_s = t["plain"][0]
    m.update({"pipeline.jobs": pipe["jobs"], "pipeline.stages": pipe["stages"],
              "pipeline.tasks": pipe["tasks"],
              "pipeline.driver_gap_s": max(plain_s - pipe["job_busy_s"], 0.0),
              "pipeline.executor_cpu_s": pipe["cpu_s"],
              "pipeline.gc_s": pipe["gc_s"],
              "pipeline.shuffle_write_bytes": pipe["shuffle_bytes"]})
    # the first micro-batch starts a cold query: it is left out
    d = [p["durationMs"] for p in t["progress"][1:]]
    m.update({
        "streaming.batches": len(t["progress"]),
        "streaming.add_batch_p50_s": p50([x["addBatch"] / 1e3 for x in d]),
        "streaming.trigger_overhead_p50_s": p50(
            [(x["triggerExecution"] - x["addBatch"]) / 1e3 for x in d]),
        "streaming.query_planning_p50_s": p50(
            [x.get("queryPlanning", 0) / 1e3 for x in d])})
    counts, _got, out = t["staged"]
    spans = {n for n, _s, _e in tracer.spans
             if n.split(".")[0] in STAGED_LAYERS}
    rows = wl.want["rows"]
    m["trace.overhead_rows_per_s"] = (rows / tracer.seconds(*spans)
                                      - rows / plain_s)
    g = {n: log.totals(n) for n in spans}
    n_bytes, n_files = _du(out)
    if isinstance(wl, CsvwTyped):
        m.update({
            "csvw.sidecar_join_s": tracer.seconds("csvw.sidecar_join"),
            "csvw.convert_s": tracer.seconds("csvw.convert"),
            "csvw.pages": counts["pages"],
            "csvw.triples_out": counts["triples_out"],
            "csvw.python_udf_s": g["csvw.sidecar_join"]["py_s"]
            + g["csvw.convert"]["py_s"],
            "serialize.write_s": tracer.seconds("serialize.write"),
            "serialize.bytes_out": n_bytes})
        return m
    tri = ("triples.extract", "triples.compile")
    # every alias form but an entity's minimum URI adds one sameAs edge
    links = counts["edges"] - gen.N_HUBS
    m.update({
        "triples.extract_s": tracer.seconds("triples.extract"),
        "triples.compile_s": tracer.seconds("triples.compile"),
        "triples.jobs": sum(g[n]["jobs"] for n in tri),
        "triples.rows_in": counts["rows_in"],
        "triples.triples_out": counts["triples_out"],
        "triples.cell_errors": counts["cell_errors"],
        "triples.python_udf_s": sum(g[n]["py_s"] for n in tri),
        "linking.link_s": tracer.seconds("linking.link"),
        "linking.mentions": counts["mentions"],
        "linking.links": links,
        "linking.hit_ratio": links / max(counts["mentions"], 1),
        "canonicalize.cc_s": tracer.seconds("canonicalize.cc"),
        "canonicalize.cc_jobs": g["canonicalize.cc"]["jobs"],
        "canonicalize.edges": counts["edges"],
        "canonicalize.components": counts["components"],
        "canonicalize.max_component_share": counts["max_component_share"],
        "canonicalize.rewrite_s": tracer.seconds("canonicalize.rewrite"),
        "canonicalize.shuffle_write_bytes":
            g["canonicalize.cc"]["shuffle_bytes"]
            + g["canonicalize.rewrite"]["shuffle_bytes"],
        "lineage.commit_s": tracer.seconds("lineage.commit"),
        "lineage.rows_committed": counts["rows_committed"],
        "lineage.files_written": n_files,
        "lineage.bytes_written": n_bytes,
        "lineage.jobs": g["lineage.commit"]["jobs"]})
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a run that is terminated still stops every process it started; a
    # second signal does not cut that clean-up short
    stop_signals = (signal.SIGTERM, signal.SIGHUP, signal.SIGINT)

    def terminate(signum, _frame):
        for s in stop_signals:
            signal.signal(s, signal.SIG_IGN)
        sys.exit(128 + signum)

    for sig in stop_signals:
        signal.signal(sig, terminate)
    become_subreaper()

    # the program under test comes from this checkout, for this process and
    # for the Python workers Spark forks
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import csvweb_spark  # noqa: F401 - fail before any work without it

    work = os.path.join(ROOT, ".kgbench", f"{args.workload}-{args.seed}-"
                        f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "out", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    nproc = len(os.sched_getaffinity(0))
    cores = min(SIZES[args.workload]["cores"], nproc)
    cpu0, wall0, loop0 = _cpu_stat(), time.time(), _host_loop_s()
    try:
        wl = WORKLOADS[args.workload](work, args.seed)
        gen_s = time.time() - wall0
        counter = Counter()
        t0 = time.perf_counter()
        wl.spark = start_session(work, cores, os.path.join(work, "eventlog")
                                 if args.trace else None)
        session_s = time.perf_counter() - t0
        memory = MemorySampler(wl.spark.sparkContext._gateway.proc.pid)
        memory.start()
        try:
            setup_m = dict(setup(wl, counter), session_s=session_s)
            if args.trace:
                tracer = layers.Tracer(wl.spark)
                t = traced(wl, counter, tracer) if not counter.failed else {}
            else:
                e2e = (measure(wl, counter, args.seconds, memory)
                       if not counter.failed else {})
        finally:
            memory.stop()
            stop_session(wl.spark)
        metrics, context = {}, {}
        if counter.failed:
            pass  # no metrics: the result line reports the failure
        elif args.trace:
            log = layers.EventLog(layers.find_event_log(
                os.path.join(work, "eventlog")))
            metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in
                       layer_metrics(wl, t, tracer, log, setup_m).items()}
        else:
            e2e["setup_s"] = (setup_m["session_s"] + setup_m["input_load_s"]
                              + setup_m["warmup_s"])
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in E2E_UNITS.items()}
            context["unit_seconds"] = e2e["unit_seconds"]
            context["unit_peak_rss_mb"] = e2e["unit_peak_rss_mb"]
        if metrics and set(metrics) != set(PER_LAYER if args.trace
                                           else E2E_UNITS):
            raise RuntimeError(f"metric names differ from BENCHMARK.json: "
                               f"{sorted(metrics)}")
        cpu1, wall = _cpu_stat(), time.time() - wall0
        hz = os.sysconf("SC_CLK_TCK")
        print(json.dumps({"context": {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": nproc, "spark_cores": cores,
            "host_busy_cores": round((cpu1[0] - cpu0[0]) / hz / wall, 2),
            "host_steal_cores": round((cpu1[1] - cpu0[1]) / hz / wall, 2),
            "host_loop_s": [round(loop0, 3), round(_host_loop_s(), 3)],
            "sizes": SIZES[args.workload], "generate_s": round(gen_s, 2),
            "setup": {k: round(v, 2) for k, v in setup_m.items()},
            "wall_s": round(wall, 1), **context}}))
        correct = counter.failed == 0 and bool(metrics)
        print(json.dumps({"correct": correct, "attempted": counter.attempted,
                          "failed": counter.failed, "metrics": metrics}),
              flush=True)
        return 0 if correct else 1
    finally:
        # a session that failed to start, or was cut short by a signal,
        # was never stopped: end its processes now
        stop_descendants(grace=0)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
