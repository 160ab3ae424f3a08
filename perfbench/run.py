"""groonga_spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload {query,ingest} --seed N \
        --seconds S --trace {0,1}

Run it from the root of a checkout (the directory holding
``groonga_spark/``). It generates its inputs from the seed, starts the
engine on ``local[2]``, sets the index up twice (the median is
``setup_s``), runs a discarded warm-up and then a closed loop of a fixed
number of ops that ``--seconds`` sets, checks every op's output, and
prints as its last line one JSON object: ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the end-to-end
ones; with ``--trace 1`` the per-layer ones from the span recorder
(``spans.py``). Lines before it, each starting with ``#``, give the
inputs, the time of each phase of the run, and the sample count and CPU
and wall latency of every op class.

Files go to ``perfbench/.work/`` (removed at the end of the run); traced
runs leave their span dump in ``perfbench/.out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("query", "ingest")
SETUP_REPS = 2
PSS_EVERY = 4  # sample PSS at every 4th op boundary
MASTER, SHUFFLE_PARTITIONS = "local[2]", 2
SPARK_CONF = {
    "spark.driver.memory": "1g",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
}
ENCODE_SHARD_DOCS = 2048
SEARCH_KINDS = ("read", "prefix", "cached", "fresh", "empty")


def cpu_probe_ms() -> float:
    """A fixed numpy loop, to read host speed next to the figures."""
    a = np.random.default_rng(0).random(200_000)
    t0 = time.perf_counter_ns()
    for _ in range(20):
        np.sort(a)
    return (time.perf_counter_ns() - t0) / 1e6


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _q(xs, p: float) -> float:
    return float(np.percentile(np.asarray(xs, np.float64), p))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


class Bench:
    """State of one run: the engine, the op records, the correctness
    tally, PSS samples and (traced runs) the span recorder."""

    def __init__(self, args, work: str, phases: dict):
        from spans import Tracer

        self.work = work
        self.phases = phases
        self.index_path = os.path.join(work, "index")
        self.tracer = Tracer()
        self.tracer_installed = bool(args.trace)
        self.spark = None
        # (op class, wall ms, CPU ms, traced, part of the measured loop)
        self.recs: list[tuple[str, float, float, bool, bool]] = []
        self.failures: list[str] = []
        self.checks = 0
        self.pss: list[float] = []
        self.setup_s: list[float] = []
        self.build_s: list[float] = []
        self.build_cpu_s: list[float] = []
        self.jit: list[str] = []  # JIT compiler threads (procs)
        self.session_start_s = 0.0
        self.n_docs = 0
        self.final_text_bytes = 0
        self.loop_ops = 0
        self.loop_s = 0.0
        self._loop_t0 = 0
        self._excluded_ns = 0
        self._ticks0 = (0, 0)
        self.steal_share = 0.0

    # -- engine --------------------------------------------------------------

    def setup(self, paths: list[str], text_bytes: int):
        """get_spark + warm_up + build_index + open, SETUP_REPS times;
        ``setup_s`` is their median. The first repetition also starts the
        JVM and the Python workers and builds with a cold JIT; later ones
        find the live session (get_spark is get-or-create), as a
        long-running Spark application would. Returns the handle on the
        last build."""
        from groonga_spark.build import build_index
        from groonga_spark.search import FulltextIndex
        from groonga_spark.session import get_spark, warm_up
        from procs import cpu_after, cpu_before, cpu_ms, jit_threads

        conf = dict(SPARK_CONF)
        conf["spark.sql.warehouse.dir"] = os.path.join(self.work, "wh")
        # a fixed heap (initial = max) keeps the JVM's share of PSS from
        # depending on when the collector decides to grow the heap
        # and a fixed set of JIT compiler threads, whose CPU time the op
        # timings leave out (see timed)
        conf["spark.driver.extraJavaOptions"] = (
            f"-Xms{SPARK_CONF['spark.driver.memory']} "
            "-XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}")
        idx = None
        for rep in range(SETUP_REPS):
            shutil.rmtree(self.index_path, ignore_errors=True)
            with self.tracer.op("setup", self.tracer_installed):
                t0 = time.perf_counter_ns()
                spark = get_spark("perfbench", master=MASTER,
                                  shuffle_partitions=SHUFFLE_PARTITIONS,
                                  extra_conf=conf)
                warm_up(spark)
                if rep == 0:
                    self.session_start_s = (time.perf_counter_ns() - t0) / 1e9
                self.spark = spark
                docs = spark.read.parquet(*paths)
                jobs0 = self.job_count() if self.tracer_installed else 0
                self.jit = jit_threads()
                c1 = cpu_before(self.jit)
                t1 = time.perf_counter_ns()
                build_index(spark, docs, self.index_path, resume=False)
                t2 = time.perf_counter_ns()
                c2 = cpu_after(self.jit)
                idx = FulltextIndex(spark, self.index_path)
                t3 = time.perf_counter_ns()
                if self.tracer_installed:
                    self.note_build(jobs0, {}, idx.meta["n_docs"],
                                    text_bytes)
            self.setup_s.append((t3 - t0) / 1e9)
            self.build_s.append((t2 - t1) / 1e9)
            self.build_cpu_s.append(cpu_ms(c1, c2) / 1e3)
        self.phases["setup"] = time.perf_counter()
        self.n_docs = int(idx.meta["n_docs"])
        self.final_text_bytes = text_bytes
        self.pss.append(self._sample_pss())
        return idx

    def job_count(self) -> int:
        """Spark jobs submitted so far (the scheduler's job id counter),
        whichever thread or job group submitted them."""
        n = self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        return int(n if isinstance(n, int) else n.get())

    def file_sizes(self) -> dict[str, tuple[int, int]]:
        out = {}
        for root, _, files in os.walk(self.index_path):
            for f in files:
                st = os.stat(os.path.join(root, f))
                out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
        return out

    def note_build(self, jobs0: int, before: dict, new_docs: int,
                   new_bytes: int) -> None:
        """After a traced build or append: Spark jobs, bytes of new or
        rewritten index files, and the finalize phase split."""
        from groonga_spark import build

        written = sum(s for p, (s, m) in self.file_sizes().items()
                      if before.get(p) != (s, m))
        t = self.tracer
        t.count("build.spark_jobs", self.job_count() - jobs0)
        t.count("build.bytes_written", written)
        t.count("build.new_docs", new_docs)
        t.count("build.new_text_bytes", new_bytes)
        for k, v in getattr(build, "FINALIZE_PHASES", {}).items():
            t.count("build.finalize." + k, v)

    # -- the measured loop ----------------------------------------------------

    def start_loop(self) -> None:
        """Settle both heaps, then open the measured window."""
        import gc

        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        self.phases["warmup"] = time.perf_counter()
        self._ticks0 = cpu_ticks()
        self._loop_t0 = time.perf_counter_ns()

    def traced_op(self, i: int, block: int = 1) -> bool:
        """Traced runs alternate blocks of ``block`` traced and untraced
        ops, so one run gives both the per-layer split and the tracing
        overhead."""
        return self.tracer_installed and (i // block) % 2 == 0

    @contextmanager
    def timed(self, kind: str, traced: bool, loop: bool = True):
        """Time one op: wall time, and the CPU time the whole engine (this
        process, the JVM and its Python workers) spent on it, but for the
        JVM's JIT compiler threads. Compiling is warm-up work a
        long-running engine does once; a short run is still compiling in
        its loop, and how much of that lands in which op depends on how
        fast the host ran the warm-up."""
        from procs import cpu_after, cpu_before, cpu_ms

        c0 = cpu_before(self.jit)
        t0 = time.perf_counter_ns()
        try:
            yield
        finally:
            t1 = time.perf_counter_ns()
            cpu = cpu_ms(c0, cpu_after(self.jit))
            self.recs.append((kind, (t1 - t0) / 1e6, cpu, traced, loop))
            self.loop_ops += loop

    def check(self, err: str, standalone: bool = False) -> None:
        """Count one correctness check; ``standalone`` checks are not tied
        to an op and count as attempted on their own."""
        self.checks += standalone
        if err:
            self.failures.append(err)

    def _sample_pss(self) -> float:
        from procs import engine_pss_mb

        return engine_pss_mb()

    def between_ops(self) -> None:
        if self.loop_ops % PSS_EVERY == 0:
            t0 = time.perf_counter_ns()
            self.pss.append(self._sample_pss())
            self._excluded_ns += time.perf_counter_ns() - t0

    def pause_loop(self) -> None:
        self._pause_t0 = time.perf_counter_ns()

    def resume_loop(self) -> None:
        self._excluded_ns += time.perf_counter_ns() - self._pause_t0

    def end_loop(self) -> None:
        self.loop_s = (time.perf_counter_ns() - self._loop_t0
                       - self._excluded_ns) / 1e9
        self.phases["loop"] = time.perf_counter()
        steal, total = (b - a for a, b in zip(self._ticks0, cpu_ticks()))
        self.steal_share = steal / total if total else 0.0
        self.pss.append(self._sample_pss())

    # -- results -------------------------------------------------------------

    def by_kind(self, traced: bool | None = False, loop: bool = True,
                cpu: bool = True) -> dict[str, list[float]]:
        """Per op class, the CPU (or wall) ms of each op."""
        out: dict[str, list[float]] = {}
        for kind, wall, cpu_ms, tr, lp in self.recs:
            if (traced is None or tr == traced) and lp == loop:
                out.setdefault(kind, []).append(cpu_ms if cpu else wall)
        return out

    def end_to_end(self, shape: dict, index_bytes: int) -> dict:
        kinds = self.by_kind(False)
        read = kinds[shape["read"]]
        return {
            "setup_s": (statistics.median(self.setup_s), "s"),
            "build_docs_per_cpu_s": (
                self.n_docs / statistics.median(self.build_cpu_s[1:]), "1/s"),
            "read_cpu_p50_ms": (_q(read, 50), "ms"),
            "read_cpu_p75_ms": (_q(read, 75), "ms"),
            "cached_or_fresh_read_cpu_p50_ms": (
                _q(kinds[shape["cached_or_fresh"]], 50), "ms"),
            "prefix_or_write_cpu_p50_ms": (
                _q(kinds[shape["prefix_or_write"]], 50), "ms"),
            "empty_read_cpu_p50_ms": (_q(kinds["empty"], 50), "ms"),
            "peak_pss_mb": (max(self.pss), "MB"),
            "index_bytes_per_text_byte": (
                index_bytes / self.final_text_bytes, "ratio"),
        }


# -- traced run ---------------------------------------------------------------

def hot_prefix_kernel_ms(idx, q) -> float:
    """The kernel alone on one fixed prefix matching about
    gen.HOT_PREFIX_MATCHES lexicon terms (plan and fetch untimed)."""
    from groonga_spark.ql import parse_query
    from groonga_spark.wand import SegmentQueryKernel

    ast = idx._expand_ast(parse_query(q.text))
    plan = idx._plan(ast)
    pdf = idx._local_blocks(plan["needed_tids"], plan, force=True)
    kernel = SegmentQueryKernel(pdf, plan, idx._stats(), 10)
    t0 = time.perf_counter_ns()
    kernel.run(ast)
    return (time.perf_counter_ns() - t0) / 1e6


def per_layer(b: Bench, shape: dict, cpu_ms: float, hot_ms: float,
              corpus_path: str) -> dict:
    from spans import median_or_zero as med

    t = b.tracer
    dur, cnt = t.durations(), t.counters()
    kinds = t.op_kind
    ops = sorted(op for op in t.traced_ops if kinds[op] != "setup")
    searches = [op for op in ops if kinds[op] in SEARCH_KINDS]

    def span_med(name, among=ops, scale=1.0):
        return med(dur[op][name] * scale for op in among if name in dur[op])

    def cnt_med(name, among=ops):
        return med(cnt[op][name] for op in among if name in cnt[op])

    def cnt_sum(name, among=ops):
        return sum(cnt[op].get(name, 0.0) for op in among)

    def share(num, den):
        return num / den if den else 0.0

    frame = [dur[op]["session.create_df"] + dur[op]["session.collect"]
             for op in searches if "session.create_df" in dur[op]]
    with_kernel = [op for op in ops if "wand.kernel" in dur[op]]
    # build layers: the appends on ingest, the set-up builds elsewhere
    builds = [op for op in t.traced_ops if kinds[op] == "write"] or \
        [op for op in t.traced_ops if kinds[op] == "setup"]
    sel = [op for op in ops if "commands.execute" in dur[op]]
    m = {
        "session.start_s": (b.session_start_s, "s"),
        "session.result_frame_ms": (med(frame), "ms"),
        "ql.parse_ms": (span_med("ql.parse"), "ms"),
        "search.plan_ms": (span_med("search.plan"), "ms"),
        "search.fetch_ms": (span_med("search.fetch"), "ms"),
        "search.fetch_rows": (cnt_med("search.fetch_rows"), "count"),
        "search.fetch_bytes": (cnt_med("search.fetch_bytes"), "bytes"),
        "search.generation_check_ms": (
            span_med("search.generation_check"), "ms"),
        "search.result_cache_hit_ratio": (share(
            cnt_sum("search.cache_hits"), cnt_sum("search.cache_lookups")),
            "ratio"),
        "search.distributed_share": (share(
            sum("search.per_shard_eval" in dur[op] for op in searches),
            len(searches)), "ratio"),
        "search.delete_ms": (span_med("search.delete"), "ms"),
        "wand.kernel_ms": (span_med("wand.kernel"), "ms"),
        "wand.blocks_decoded": (cnt_med("wand.blocks_decoded"), "count"),
        "wand.decode_ratio": (share(
            cnt_sum("wand.blocks_decoded", with_kernel),
            cnt_sum("search.fetch_rows", with_kernel)), "ratio"),
        "wand.hot_prefix_kernel_ms": (hot_ms, "ms"),
        "build.build_index_s": (
            span_med("build.build_index", builds, 1e-3), "s"),
        "build.segment_s": (span_med("build.segment", builds, 1e-3), "s"),
        "build.finalize_s": (span_med("build.finalize", builds, 1e-3), "s"),
    }
    for ph in ("doc_map_s", "postings_s", "lexicon_s", "meta_s", "writes_s"):
        m["build.finalize." + ph] = (
            cnt_med("build.finalize." + ph, builds), "s")
    m.update({
        "build.spark_jobs": (cnt_med("build.spark_jobs", builds), "count"),
        "build.segments_rebuilt": (med(
            cnt[op].get("build.segments_rebuilt", 0.0) for op in builds),
            "count"),
        "build.reencoded_docs_per_appended_doc": (share(
            cnt_sum("build.docs_tokenized", builds),
            cnt_sum("build.new_docs", builds)), "ratio"),
        "build.bytes_written_per_appended_byte": (share(
            cnt_sum("build.bytes_written", builds),
            cnt_sum("build.new_text_bytes", builds)), "ratio"),
        "select.select_ms": (span_med("select.select", sel), "ms"),
        "commands.body_ms": (med(
            dur[op]["commands.execute"] - dur[op]["select.select"]
            for op in sel), "ms"),
        "commands.spark_jobs_per_select": (
            cnt_med("commands.spark_jobs", sel), "count"),
        "host.cpu_probe_ms": (cpu_ms, "ms"),
        "host.steal_share": (b.steal_share, "ratio"),
    })
    # the wall-clock latency a caller sees, from the untraced ops: it
    # follows the host's CPU steal, so it has no bound (see README)
    wall = b.by_kind(False, cpu=False)
    for name, kind in (("read", shape["read"]),
                       ("cached_or_fresh_read", shape["cached_or_fresh"]),
                       ("prefix_or_write", shape["prefix_or_write"]),
                       ("empty_read", "empty")):
        m[f"wall.{name}_p50_ms"] = (med(wall.get(kind, [])), "ms")
    m.update(encode_probe(corpus_path))
    m.update(trace_overhead(b, shape))
    return m


def encode_probe(corpus_path: str) -> dict:
    """The build's per-shard layers, called in this process on one
    2,048-doc shard of the corpus: median of 5 calls each, in
    microseconds per doc."""
    import pandas as pd

    from groonga_spark.build import encode_shard
    from groonga_spark.normalize import normalize_series
    from groonga_spark.postings import encode_partition
    from groonga_spark.tokenize import tokenize_batch_encoded

    pdf = pd.read_parquet(corpus_path, columns=["doc_id", "text"])
    pdf = pdf.iloc[:ENCODE_SHARD_DOCS].reset_index(drop=True)
    mode = "delimit"
    texts = normalize_series(pdf["text"])
    rows, codes, uniq, pos = tokenize_batch_encoded(texts, mode)
    # encode_partition's input, prepared as encode_shard prepares it
    doc_ids = pdf["doc_id"].to_numpy(np.int64)
    counts = np.bincount(rows, minlength=len(pdf)).astype(np.int64)
    order = np.lexsort((pos, doc_ids[rows], codes))
    tok = pd.DataFrame({"term_code": codes[order],
                        "salt": np.zeros(len(rows), np.int64),
                        "doc_id": doc_ids[rows][order], "pos": pos[order],
                        "dl": counts[rows][order]})

    def per_doc(fn) -> float:
        ts = []
        for _ in range(5):
            t0 = time.perf_counter_ns()
            fn()
            ts.append((time.perf_counter_ns() - t0) / 1e3 / len(pdf))
        return statistics.median(ts)

    return {
        "build.encode_shard_us_per_doc": (
            per_doc(lambda: encode_shard(pdf, 0, 0, mode)), "us"),
        "normalize.us_per_doc": (
            per_doc(lambda: normalize_series(pdf["text"])), "us"),
        "tokenize.us_per_doc": (
            per_doc(lambda: tokenize_batch_encoded(texts, mode)), "us"),
        "postings.encode_us_per_doc": (
            per_doc(lambda: encode_partition(tok, 0, uniq_terms=uniq)),
            "us"),
    }


def trace_overhead(b: Bench, shape: dict) -> dict:
    """Traced against untraced ops of the same loop (the alternating
    blocks of ``Bench.traced_op``)."""
    out = {}
    for label, flag in (("traced", True), ("untraced", False)):
        ms = [x for _, x, _, tr, lp in b.recs if tr == flag and lp]
        out[f"trace.{label}_ops_per_s"] = (
            len(ms) / (sum(ms) / 1e3) if ms else 0.0, "1/s")
    tr = b.by_kind(True, cpu=False)[shape["read"]]
    un = b.by_kind(False, cpu=False)[shape["read"]]
    out["trace.read_p50_overhead_share"] = (
        statistics.median(tr) / statistics.median(un) - 1.0, "ratio")
    return out


# -- main ---------------------------------------------------------------------

def _setup_env(work: str) -> None:
    """Keep every file the engine and Spark write inside the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "groonga_spark", "__init__.py")):
        print("perfbench: run it from the root of a groonga_spark checkout "
              "(no groonga_spark/ package here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(HERE, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _setup_env(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    import gen
    import workloads as W
    from procs import stop_engine

    phases = {"start": time.perf_counter()}
    cpu_ms = cpu_probe_ms()
    det = gen.determinism_check(args.seed, work)
    phases["determinism"] = time.perf_counter()
    prepare, runner = {"query": (W.prepare_query, W.run_query),
                       "ingest": (W.prepare_ingest, W.run_ingest)
                       }[args.workload]
    inp = prepare(args.seed, work, args.seconds)
    phases["generate"] = time.perf_counter()
    inputs = sorted(os.path.join(work, f) for f in os.listdir(work)
                    if f.endswith((".parquet", ".jsonl")))
    props = dict(inp["props"], workload=args.workload, seed=args.seed,
                 hot_prefix=inp["hot_prefix"].text,
                 hot_prefix_terms=inp["hot_prefix"].prefix_terms,
                 inputs_sha256=gen.file_digest(inputs), **det)
    print("# inputs " + json.dumps(props, sort_keys=True), flush=True)
    print(f"# host.cpu_probe_ms {cpu_ms:.3f}", flush=True)

    b = Bench(args, work, phases)
    if b.tracer_installed:
        from spans import install

        install(b.tracer)
    try:
        shape = runner(b, inp)
        phases["workload"] = time.perf_counter()
        if b.tracer_installed:
            b.tracer.uninstall()
            hot_ms = hot_prefix_kernel_ms(shape["index"], shape["hot_prefix"])
            metrics = per_layer(b, shape, cpu_ms, hot_ms, inp["paths"][0])
            out = os.path.join(HERE, ".out")
            os.makedirs(out, exist_ok=True)
            b.tracer.dump(os.path.join(
                out, f"spans-{args.workload}-{args.seed}.jsonl"))
            print("# self_ms " + json.dumps({
                k: round(v, 3)
                for k, v in sorted(b.tracer.self_times().items())}))
        else:
            metrics = b.end_to_end(shape, dir_bytes(b.index_path))
    finally:
        if b.spark is not None:
            stop_engine(b.spark)
    phases["stop"] = time.perf_counter()

    marks = list(phases.items())
    print("# phases_s " + json.dumps({
        k: round(t - marks[i][1], 2) for i, (k, t) in enumerate(marks[1:])}))
    # CPU time the hypervisor gave other guests during the loop: with
    # host.cpu_probe_ms, tells host drift from a program change
    print(f"# host.steal_share {b.steal_share:.4f}")
    print(f"# session_start_s {b.session_start_s:.3f} setup_reps_s "
          + json.dumps([round(x, 3) for x in b.setup_s])
          + " build_reps_s " + json.dumps([round(x, 3) for x in b.build_s])
          + " build_cpu_reps_s "
          + json.dumps([round(x, 3) for x in b.build_cpu_s]))
    for loop in (True, False):
        walls = b.by_kind(None, loop, cpu=False)
        for kind, xs in sorted(b.by_kind(None, loop).items()):
            ws = walls[kind]
            print(f"# op {kind}: n={len(xs)}  cpu p50 {_q(xs, 50):.3f} ms  "
                  f"p90 {_q(xs, 90):.3f} ms  wall p50 {_q(ws, 50):.3f} ms  "
                  f"p90 {_q(ws, 90):.3f} ms"
                  + ("" if loop else "  (traced probe)")
                  + (f"  cpu {[round(x, 1) for x in xs]}"
                     if len(xs) <= 12 else ""))
    print(f"# ops_per_s {b.loop_ops / b.loop_s:.3f}")
    attempted = len(b.recs) + b.checks
    failed = len(b.failures)
    print(f"# failed_op_share {failed / max(1, attempted):.6f} "
          f"({failed}/{attempted})")
    for f in b.failures[:10]:
        print("# FAIL " + f)
    correct = failed == 0 and det["same_seed_identical"] \
        and det["other_seed_differs"]
    print(json.dumps({
        "correct": bool(correct), "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
