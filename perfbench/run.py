"""spark-er benchmark: one workload, one fresh process, one JSON result line.

    python3 perfbench/run.py --workload docs_dense --seed 42 --seconds 40 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off: set-up, the
first pass in the fresh JVM, then a number of warm passes fixed by
``--seconds`` and the workload (see ``warm_passes``). ``--trace 1`` is the separate traced run
with the Spark event log on: a cold checkpointed pass and its resume give
the checkpoint layer, a warm pass is broken down by layer, and the four
near-duplicate lanes are timed one by one. Every pass checks its outputs; a
pass that raises or fails a check counts in ``failed``.

The engine is driven only through its public functions. The seed reaches
``synthesize`` only; the corpora under ``data/`` are fixed. README.md in
this directory describes the metrics and the workloads.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402
import host  # noqa: E402

DATA = HERE / "data" / "sf0.01"
EXPECTED = json.loads((HERE / "expected.json").read_text())
DEFAULT_SEED = 42
# --seconds covers the first pass (about COLD_PASS_S) and the warm passes
# (about WARM_PASS_S each), at least MIN_WARM of them. The count is fixed by
# --seconds and the workload, not by a clock: the passes still speed up one
# after another (the JIT keeps compiling for ten passes or more, at a pace
# that varies from run to run), so a varying count would move mean_pass_s
# on its own.
COLD_PASS_S = {"docs_dense": 17.0, "synth_checkpoint": 23.0}
WARM_PASS_S = 9.0
MIN_WARM = 2
INPUT_SETUPS = 3
LAYERS = ("normalize", "blocking", "scoring", "cc")
LANES = ("dedup.minhash_lsh", "dedup.simhash", "dedup.emb_near_dup", "similarity_search.ivf")
# workload → run_pipeline arguments (docs_dense is bench.py's flagship call)
PIPELINE_ARGS = {
    "docs_dense": dict(threshold=0.80, use_bands=False, use_tfidf=True, max_rows_per_task=300),
    "synth_checkpoint": dict(threshold=0.40, use_bands=True, bands=8, rows_per_band=4, use_tfidf=True),
}
# equal-sized blocks (hot block aside): a seed changes the contents, not
# the amount of work, so runs on different seeds stay comparable
SYNTH_ARGS = dict(n_blocks=120, min_rows=10, max_rows=10, hot_block_rows=60, template_len=(20, 50))
# the engine package; the short name is a symlink to the long directory
PACKAGES = (
    "jmdfane_spark",
    "joint_multi_dimensional_features_and_academic_network_embedding_for_author_name_disambiguation_spark",
)


def engine(module: str):
    """Import ``<package>.<module>`` from the checkout this file sits in."""
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    for pkg in PACKAGES:
        if (ROOT / pkg / "__init__.py").is_file():
            return importlib.import_module(f"{pkg}.{module}")
    raise ImportError(f"no engine package under {ROOT}")


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

def partition_digest(rows) -> str:
    """Digest of the clustering as a partition of ids: each id is mapped to
    the smallest id of its component, so the digest does not depend on how
    the engine names components."""
    first: dict = {}
    for r in rows:
        c = r["component"]
        first[c] = min(first.get(c, r["id"]), r["id"])
    lines = sorted(f"{r['id']}\t{first[r['component']]}" for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def rows_digest(rows) -> str:
    return hashlib.sha256("\n".join(sorted("\t".join(map(str, r)) for r in rows)).encode()).hexdigest()


@dataclass
class Checks:
    """Output checks of one run; ``failures`` lists what went wrong."""

    failures: list[str] = field(default_factory=list)

    def require(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failures.append(what)
        return ok


def check_labels(checks: Checks, rows, source_sha: dict[str, str], what: str) -> None:
    checks.require(len(rows) == len(source_sha), f"{what}: {len(rows)} label rows for {len(source_sha)} inputs")
    bad = sum(1 for r in rows if source_sha.get(r["id"]) != r["content_sha"])
    checks.require(bad == 0, f"{what}: {bad} rows whose content_sha is not sha2(content) of the source")


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

@dataclass
class Pass:
    wall: float                      # pipeline call + labels materialization
    labels_s: float                  # the labels materialization alone
    metrics: dict                    # PipelineResult.metrics
    rows: list                       # the materialized labels


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.checkpointed = workload == "synth_checkpoint"
        self.work = ROOT / ".perfbench_work" / f"{workload}-{os.getpid()}"
        self.cores = len(os.sched_getaffinity(0))
        self.driver_mem = f"{host.mem_total_kb() // 2 // 1024}m"
        self.checks = Checks()
        self.attempted = 0
        self.failed = 0
        self.log: list[str] = []

    # -- session ------------------------------------------------------------
    def start(self) -> None:
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True)
        # every file Spark, the JVM and the Python workers write stays in
        # the checkout
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = self.driver_mem
        conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
        if self.trace:
            (self.work / "events").mkdir()
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = (self.work / "events").as_uri()
            # one plain JSON-lines file, read back after the session stops
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        self.spark = engine("session").get_spark(
            master=f"local[{self.cores}]", app_name=f"perfbench-{self.workload}", extra_conf=conf
        )
        self.sc = self.spark.sparkContext

    def stop(self) -> None:
        from pyspark import SparkContext

        try:
            self.spark.stop()
        finally:
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    def span(self, name: str) -> None:
        """Open the benchmark's span ``name``: every job until the next span
        carries it as its job group (the engine overrides only the
        description)."""
        self.sc.setJobGroup(name, f"perfbench {name}")

    # -- input ----------------------------------------------------------------
    def load_input(self):
        """Build the workload input and cache it; returns the files frame."""
        if self.workload == "docs_dense":
            files = engine("sources.tables").documents_as_files(self.spark, str(DATA))
            self.fixture = None
        else:
            synthetic = engine("sources.synthetic")
            self.fixture = synthetic.synthesize(seed=self.seed, **SYNTH_ARGS)
            files, self.truth, _ = synthetic.to_spark(self.spark, self.fixture)
        files = files.cache()
        files.count()
        return files

    def setup(self, age0: float, t0: float, repeats: int) -> float:
        """Returns setup_s: process start → session up, plus the median of
        ``repeats`` input set-ups (build, cache, count)."""
        self.start()
        session_s = age0 + (time.perf_counter() - t0)
        times = []
        for i in range(repeats):
            self.span(f"setup{i}")
            t = time.perf_counter()
            files = self.load_input()
            times.append(time.perf_counter() - t)
            if i < repeats - 1:
                files.unpersist()
        self.files = files
        self.log.append(f"session_s={session_s:.3f} input_setups={[round(x, 3) for x in times]}")
        src = (
            self.fixture.files if self.fixture is not None
            else [tuple(r) for r in files.select("repo", "path", "commit", "lang", "content").collect()]
        )
        self.source_sha = {
            f"{r[0]}:{r[1]}:{r[2]}": hashlib.sha256(r[4].encode()).hexdigest() for r in src
        }
        return session_s + statistics.median(times)

    # -- passes ----------------------------------------------------------------
    def one_pass(self, tag: str, checkpoint: Path | None) -> Pass:
        """One run_pipeline call plus the caller's materialization of the
        lazy labels (a collect, as a user reading the result does)."""
        run_pipeline = engine("plans.pipeline").run_pipeline
        self.span(f"{tag}.pipeline")
        t = time.perf_counter()
        res = run_pipeline(
            self.spark, self.files, checkpoint_dir=checkpoint and str(checkpoint),
            **PIPELINE_ARGS[self.workload],
        )
        t_pipe = time.perf_counter() - t
        self.span(f"{tag}.labels")
        t = time.perf_counter()
        rows = [r.asDict() for r in res.labels.collect()]
        t_labels = time.perf_counter() - t
        res.release()
        return Pass(t_pipe + t_labels, t_labels, res.metrics, rows)

    def run_pass(self, tag: str, checkpoint: Path | None = None, like: Pass | None = None) -> Pass | None:
        """A checked pass. With ``checkpoint`` the pipeline snapshots every
        stage there, or resumes from the snapshots already committed; its
        labels must then equal those of ``like``."""
        self.attempted += 1
        n_fail = len(self.checks.failures)
        try:
            p = self.one_pass(tag, checkpoint)
        except Exception:  # noqa: BLE001 — a failed pass is counted, the run goes on
            self.checks.failures.append(f"{tag}: raised\n{traceback.format_exc()}")
            self.failed += 1
            return None
        check_labels(self.checks, p.rows, self.source_sha, tag)
        if like is not None:
            self.checks.require(
                partition_digest(p.rows) == partition_digest(like.rows), f"{tag}: labels differ from the written run"
            )
        if len(self.checks.failures) > n_fail:
            self.failed += 1
        return p

    def checkpoint_dir(self, tag: str) -> Path | None:
        return self.work / "ck" / tag if self.checkpointed else None

    def check_digests(self, passes: list[Pass]) -> None:
        digests = {partition_digest(p.rows) for p in passes}
        self.checks.require(len(digests) == 1, f"labels differ across passes: {sorted(digests)}")
        digest = min(digests)
        # the fixed corpus has one recorded digest; synthetic inputs one per
        # recorded seed
        want = EXPECTED["labels_digest"][self.workload].get("fixed" if self.fixture is None else str(self.seed))
        if want is not None:
            self.checks.require(digest == want, f"labels digest {digest} != recorded {want}")
        self.log.append(f"labels_digest={digest}")

    def f1(self, rows) -> float:
        """Pairwise F1 (evaluate.pairwise_f1), untimed. synth: macro F1
        against the synthesizer's ground truth. docs: micro F1 against the
        partition recorded at the benchmark's seed commit (most of its
        blocks hold no true pair, which macro F1 scores as 0)."""
        evaluate = engine("operators.evaluate")
        self.span("f1")
        pred = self.spark.createDataFrame(
            [(r["id"], str(r["component"])) for r in rows], "id string, component string"
        )
        if self.fixture is not None:
            return evaluate.pairwise_f1(pred, self.truth)["macro_f1"]
        ref = EXPECTED["docs_dense_reference"]
        truth = self.spark.createDataFrame(
            [(r["block_key"], r["id"], ref.get(r["id"], r["id"])) for r in rows],
            "block_key string, id string, cluster_id string",
        )
        return evaluate.pairwise_f1(pred, truth)["micro_f1"]


def _du_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / eventlog.MB


def _snapshots(path: Path) -> int:
    return sum(1 for d in path.iterdir() if (d / "_COMMITTED").exists())


# ---------------------------------------------------------------------------
# near-duplicate lanes (traced run), with the __spark_entry__ query arguments
# ---------------------------------------------------------------------------

def lane_calls(spark):
    from pyspark.sql import functions as F

    dedup = engine("operators.dedup")
    nn = engine("operators.similarity_search")
    docs = spark.read.parquet(str(DATA / "documents.parquet")).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).cache()
    emb = spark.read.parquet(str(DATA / "embeddings.parquet")).select(
        F.col("vec_id").cast("long").alias("id"), F.col("embedding").cast("array<double>").alias("vec")
    ).cache()
    docs.count(), emb.count()

    def minhash_lsh():
        return dedup.minhash_lsh_pairs(docs, "doc_id", "text", bands=32, rows=2, threshold=0.6, shingle_n=3) \
            .select("id_a", "id_b", F.round("jaccard", 6))

    def simhash():
        return dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3)

    def emb_near_dup():
        planted = emb.where(F.col("id") < 3).select(
            (F.col("id") + 1000000).alias("id"), F.transform("vec", lambda x: x + F.lit(0.01)).alias("vec")
        )
        return dedup.embedding_near_dup_pairs(emb.unionByName(planted), "id", "vec", threshold=0.99) \
            .select("id_a", "id_b", F.round("cosine", 6))

    def ivf():
        corpus = emb.select(F.col("id").alias("c_id"), "vec")
        queries = emb.where(F.col("id") < 10).select(F.col("id").alias("q_id"), "vec")
        assignments, centroids = nn.ivf_build(corpus, nlist=8, iters=2)
        return nn.ivf_search(queries, corpus, assignments, centroids, k=5, nprobe=8, round_digits=6) \
            .select("q_id", "c_id", "cosine", "rank")

    return dict(zip(LANES, (minhash_lsh, simhash, emb_near_dup, ivf)))


# ---------------------------------------------------------------------------
# the two kinds of run
# ---------------------------------------------------------------------------

def measure(b: Bench, setup_s: float) -> dict:
    """Tracing off: the first pass, the untimed F1 evaluation (which also
    warms the JVM further), then a fixed number of warm passes.

    mean_pass_s is the mean wall of all these passes, the cold one
    included: what each call costs a fresh session that runs the pipeline
    this many times. No single pass is reported on its own. The warm passes
    still drop by up to a quarter, at a point in the series that varies
    from run to run (the JIT), and the cold pass is one sample with class
    loading and JIT bursts in it; over seven sets of five or ten seeds, the
    mean over the whole run spread the least (0.04-0.14 of the median,
    against up to 0.17 for the first pass or the warm median)."""
    t0 = time.perf_counter()
    first = b.run_pass("p0", b.checkpoint_dir("p0"))
    if first is None:
        raise RuntimeError("the first pass failed")
    t = time.perf_counter()
    f1 = b.f1(first.rows)
    f1_s = time.perf_counter() - t
    passes = [first]
    for i in range(1, warm_passes(b.workload, b.seconds) + 1):
        p = b.run_pass(f"p{i}", b.checkpoint_dir(f"p{i}"))
        if p is not None:
            passes.append(p)
    if len(passes) == 1:
        raise RuntimeError("every warm pass failed")
    b.log.append(f"f1_s={f1_s:.3f} measured_s={time.perf_counter() - t0 - f1_s:.3f}")
    b.check_digests(passes)
    walls = [p.wall for p in passes]
    warm = walls[1:]
    q = statistics.quantiles(warm, n=4, method="inclusive") if len(warm) > 1 else warm * 3
    mean_pass_s = statistics.fmean(walls)
    b.log += [
        f"first_pass_s={walls[0]:.3f} warm_n={len(warm)} warm_walls={[round(w, 3) for w in warm]} "
        f"warm_median={statistics.median(warm):.3f} warm_q1={q[0]:.3f} warm_q3={q[2]:.3f} "
        f"pairs_scored={passes[-1].metrics['pairs_scored']}",
        f"error_rate={b.failed / b.attempted:.3f} ({b.failed}/{b.attempted})",
    ]
    return {
        "setup_s": (setup_s, "s"),
        "mean_pass_s": (mean_pass_s, "s"),
        "pairs_per_s": (passes[-1].metrics["pairs_scored"] / mean_pass_s, "pairs/s"),
        "f1": (f1, "ratio"),
    }


def warm_passes(workload: str, seconds: float) -> int:
    return max(MIN_WARM, round((seconds - COLD_PASS_S[workload]) / WARM_PASS_S))


def traced(b: Bench) -> dict:
    """Tracing on. The cold pass is a checkpointed one and is resumed (the
    checkpoint layer); the warm pass is the workload's own pass, broken
    down by layer; then the four near-duplicate lanes run one by one."""
    ck_dir = b.work / "ck" / "p0"
    written = b.run_pass("p0", ck_dir)
    if written is None:
        raise RuntimeError("the checkpointed pass failed")
    mb, snaps = _du_mb(ck_dir), _snapshots(ck_dir)
    resumed = b.run_pass("p0.resume", ck_dir, like=written)
    if resumed is None:
        raise RuntimeError("the resumed pass failed")
    p = b.run_pass("p1", b.checkpoint_dir("p1"))
    if p is None:
        raise RuntimeError("the traced warm pass failed")
    b.check_digests([written, p])
    lane_s, lane_rows = {}, {}
    for name, call in lane_calls(b.spark).items():
        b.attempted += 1
        b.span(f"lane.{name}")
        try:
            t = time.perf_counter()
            rows = [tuple(r) for r in call().collect()]
            lane_s[name] = time.perf_counter() - t
        except Exception:  # noqa: BLE001 — a failed lane is counted, the run goes on
            b.checks.failures.append(f"lane {name}: raised\n{traceback.format_exc()}")
            b.failed += 1
            continue
        finally:
            engine("persist").release()
        lane_rows[name] = len(rows)
        want = EXPECTED["lanes"].get(name)
        if not b.checks.require(rows_digest(rows) == want, f"lane {name}: digest {rows_digest(rows)} != {want}"):
            b.failed += 1
    return {
        "pass": p, "lane_s": lane_s, "lane_rows": lane_rows, "peak_rss_mb": host.peak_rss_mb(os.getpid()),
        "checkpoint": {
            "write_mb": mb, "snapshots": snaps, "write_s": written.wall, "resume_s": resumed.wall,
            "resume_normalize_s": resumed.metrics["t_normalize"],
        },
    }


def layer_metrics(b: Bench, t: dict, log: eventlog.EventLog) -> dict:
    p = t["pass"]
    walls = log.walls("p1.pipeline")
    out: dict = {}
    for layer in LAYERS:
        for k, v in log.span("p1.pipeline", layer).metrics(walls.get(layer, 0.0), b.cores).items():
            out[f"{layer}.{k}"] = v
    out["labels.wall_s"] = p.labels_s
    m = p.metrics
    out["blocking.pairs_estimated"] = m["pairs_estimated"]
    out["blocking.pairs_generated"] = m["pairs_generated"]
    out["blocking.keep_ratio"] = m["pairs_generated"] / max(1, m["pairs_estimated"])
    out["blocking.partitions"] = m["pair_partitions"]
    out["scoring.pairs_scored"] = m["pairs_scored"]
    out["cc.iterations"] = m["cc_iterations"]
    out["cc.first_iter_changed"] = m["cc_metrics"][0]["labels_changed"] if m["cc_metrics"] else 0
    for k, v in t["checkpoint"].items():
        out[f"checkpoint.{k}"] = v
    for name in LANES:
        tot = log.span(f"lane.{name}")
        out[f"{name}.s"] = t["lane_s"].get(name, 0.0)
        out[f"{name}.task_s"] = tot.task_ms / 1000.0
        out[f"{name}.shuffle_write_mb"] = tot.shuffle_write_bytes / eventlog.MB
        out[f"{name}.out_rows"] = t["lane_rows"].get(name, 0)
    out["host.peak_rss_mb"] = t["peak_rss_mb"]
    out["trace.pass_s"] = p.wall
    out["trace.gc_s"] = (log.span("p1.pipeline").gc_ms + log.span("p1.labels").gc_ms) / 1000.0
    # self-check: the stage rows (any unlabelled stretch included) and the
    # labels row cover the traced pass wall
    ok, gap = eventlog.walls_add_up({**walls, "labels": p.labels_s}, p.wall)
    b.checks.require(ok, f"traced stage walls {walls} miss the pass wall {p.wall:.3f} s by {gap:.1%}")
    out["trace.walls_gap"] = gap
    # work no layer claims is reported, never dropped
    out["trace.unattributed_tasks"] = log.span("p1.pipeline", eventlog.UNATTRIBUTED).tasks
    out["trace.outside_span_tasks"] = log.span(eventlog.UNATTRIBUTED).tasks
    b.log.append(f"engine stage timers: { {k: v for k, v in m.items() if k.startswith('t_')} }")
    b.checks.require(log.failed_jobs == 0, f"{log.failed_jobs} failed Spark jobs in the event log")
    return out


def unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    named = {"busy": "ratio", "keep_ratio": "ratio", "walls_gap": "ratio", "steal_pct": "%", "cpu_ops_per_s": "ops/s"}
    if leaf in named:
        return named[leaf]
    if leaf.endswith("_s") or leaf == "s":
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    return "pairs" if leaf.startswith("pairs_") else "count"


def main(argv: list[str] | None = None) -> int:
    age0, t0 = host.process_age_s(), time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(PIPELINE_ARGS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=40.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        engine("session")
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2

    c0, ops0 = host.cpu_times(), host.cpu_ops_per_s()
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    log = None
    try:
        setup_s = b.setup(age0, t0, 1 if args.trace else INPUT_SETUPS)
        result = traced(b) if args.trace else measure(b, setup_s)
        b.log.append(f"run_s={host.process_age_s():.3f}")
    finally:
        if hasattr(b, "spark"):
            b.stop()
        events = b.work / "events"
        if events.is_dir():
            logs = [f for f in events.iterdir() if f.is_file()]
            if len(logs) == 1:
                log = eventlog.read(str(logs[0]))
        shutil.rmtree(b.work, ignore_errors=True)
        try:
            b.work.parent.rmdir()
        except OSError:
            pass  # another run's work directory is still there
    ops1 = host.cpu_ops_per_s()
    steal = host.steal_pct(c0, host.cpu_times())

    if args.trace:
        if log is None:
            raise RuntimeError("the traced run left no single event log")
        metrics = {**layer_metrics(b, result, log), "host.steal_pct": steal, "host.cpu_ops_per_s": min(ops0, ops1)}
        out = {k: (v, unit(k)) for k, v in metrics.items()}
    else:
        out = result
    print(
        f"# workload={b.workload} seed={b.seed} trace={args.trace} master=local[{b.cores}] "
        f"driver_memory={b.driver_mem} mem_total_kb={host.mem_total_kb()} "
        f"cpu_ops_per_s before={ops0:.1f} after={ops1:.1f} steal_pct={steal:.2f}"
    )
    for line in b.log:
        print(f"# {line}")
    for f in b.checks.failures:
        print(f"# CHECK FAILED: {f}")
    for k, (v, u) in out.items():
        print(f"{k:40s} {v:>18.6f} {u}")
    print(json.dumps({
        "correct": not b.checks.failures,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
