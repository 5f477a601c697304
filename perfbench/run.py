"""Layered build/serve benchmark for the full-text engine on ``local[4]``.

One command runs one named workload on inputs generated from a seed::

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 15 --trace 0

Both workloads set up the same way, in one driver process with one client
thread: start the Spark session, then ``SETUP_REPS`` times build the seeded
corpus's index with the path-in entry point
(``build_compressed_index_pyfiles`` -> ``postings.count()`` ->
``save_compressed_index``) and open it with ``QueryServer.load`` (plus
``prewarm`` of the hot pool on serve_hot). The first rep is the untimed
warm-up: the session's cold build. ``setup_s`` is the wall from session
start to the first timed query, ``build_docs_per_s`` the docs over the
median build+save of the reps after the warm-up. Then a closed loop with
one client sends one query per ``QueryServer.search_local`` call for
``--seconds``:

* ``serve_hot``: Zipf-repeated draws from the prewarmed 200-query pool;
* ``serve_cold``: queries of tail terms new to the server (plus ~10%
  unknown tokens), so the caches never hit. When the loop drains the log
  it opens a fresh server and starts the log again; the reopen is left
  out of the loop's wall.

Latency percentiles and throughput are taken in each of ``WINDOWS`` equal
slices of the loop and reported as the median over the slices; the p99 is
in the detail line only.

Answers for a fixed check sample of each workload, and each set-up build's
n_docs / avgdl / posting count, are compared with the oracle answers of
``inputs.py`` outside the timed region; ``failed`` counts calls that raised
plus answers that differ. The last stdout line is the result object; the
line before it holds the details (corpus tag, environment, sample counts,
per-rep times) and is also written to ``perfbench/.work/results/``.

``--trace 1`` turns the Spark event log on, splits ``--seconds`` between
the untraced loop and a traced rerun of it (see ``tracing.py``) and
reports the per-layer metrics instead of the end-to-end ones. On serve_cold it also traces the Spark
query path: two ``search_wand`` batch jobs over ``load_compressed_index``
(half hot pool, half novel tail), oracle-checked, and the pruned vs
exhaustive contrast on their 500 queries.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WHY = {
    "serve_hot": "prewarmed Zipf-repeated query pool: time goes to the MaxScore "
    "kernel, the row-group fetch layer stays idle",
    "serve_cold": "tail terms new to the server: time goes to row-group fetch and "
    "Arrow-to-Python assembly, the caches never hit",
}
MASTER, CORES = "local[4]", 4
SETUP_REPS = 2  # rep 0 is the untimed warm-up
MIN_OPS = 100
# the loop's latency and throughput figures are medians over equal slices
# of its wall, so that a slow spell of the host in one slice does not set them
WINDOWS = 5
UNITS = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_doc": "B/doc",
    "query_p50_ms": "ms",
    "queries_per_s": "q/s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "tokenizer.docs_per_s": "docs/s",
    "tokenizer.query_ms": "ms",
    "compressed_index.build_s": "s",
    "compressed_index.save_s": "s",
    "compressed_index.map_stage_s": "s",
    "compressed_index.map_cpu_s": "s",
    "compressed_index.shuffle_write_bytes": "B",
    "compressed_index.merge_stage_s": "s",
    "compressed_index.stats_agg_s": "s",
    "compressed_index.gc_s": "s",
    "compressed_index.stage_s": "s",
    "compressed_index.index_bytes": "B",
    "serving.call_ms": "ms",
    "serving.fetch_ms": "ms",
    "serving.row_groups_read": "count",
    "serving.bytes_read": "B",
    "serving.assemble_ms": "ms",
    "serving.decode_fill_ms": "ms",
    "serving.row_cache_hit_frac": "ratio",
    "serving.row_cache_mb": "MB",
    "serving.decoded_cache_mb": "MB",
    "serving.load_s": "s",
    "serving.prewarm_s": "s",
    "wand.kernel_ms": "ms",
    "wand.blocks_total": "count",
    "wand.blocks_decoded": "count",
    "wand.blocks_skipped_frac": "ratio",
    "wand.batch_s": "s",
    "wand.scan_join_stage_s": "s",
    "wand.score_stage_s": "s",
    "wand.score_cpu_s": "s",
    "wand.job_shuffle_bytes": "B",
    "wand.kernel_prune_ms": "ms",
    "wand.kernel_full_ms": "ms",
    "wand.job_prune_s": "s",
    "wand.job_exhaustive_s": "s",
    "trace.overhead_ms": "ms",
    "trace.overhead_frac": "ratio",
}


def _p99(xs: list[float]) -> float:
    s = sorted(xs)
    return s[max(0, math.ceil(0.99 * len(s)) - 1)]


def window_stats(lat: list[float], ends: list[float], wall: float) -> list[dict]:
    """p50 / p99 latency (ms) and throughput of each of ``WINDOWS`` equal
    slices of the loop's wall; a call belongs to the slice it ends in."""
    width = wall / WINDOWS
    slices: list[list[float]] = [[] for _ in range(WINDOWS)]
    for x, end in zip(lat, ends):
        slices[min(int(end / width), WINDOWS - 1)].append(x * 1e3)
    return [
        {"p50": statistics.median(s), "p99": _p99(s), "qps": len(s) / width}
        for s in slices
        if s  # a call that outlasts a whole slice leaves it empty
    ]


def _close(a: float, b: float, tol: float) -> bool:
    return abs(a - b) <= tol * max(1.0, abs(b))


def answer_ok(rows: list[tuple], exp: dict, tol: float) -> bool:
    """One query's engine rows (qid, rank, doc, score), rank order, against
    the oracle: same length and ranks, scores within ``tol``, and each doc
    the oracle's doc at that rank or one tying its score within float noise
    (at the k-th place: any doc of the oracle's tie set)."""
    top = exp["top"]
    if len(rows) != len(top) or len({r[2] for r in rows}) != len(rows):
        return False
    kth = top[-1][1] if top else 0.0
    for i, ((_, rank, doc, score), (edoc, escore)) in enumerate(zip(rows, top)):
        if rank != i + 1 or not _close(score, escore, tol):
            return False
        if doc != edoc:
            ties = {d for d, s in top if _close(s, escore, tol)}
            if _close(escore, kth, tol):
                ties.update(exp["tie"])
            if doc not in ties:
                return False
    return True


def environment(spark) -> dict:
    def git_commit():
        try:
            out = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            )
        except (OSError, subprocess.TimeoutExpired):
            return None
        return out.stdout.strip() if out.returncode == 0 else None

    # the benchmark's checkout need not be a git repository: a digest of
    # the engine sources identifies the code measured either way
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "fulltextsearch_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                digest.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    digest.update(f.read())
    import pyarrow  # noqa: PLC0415
    import pyspark  # noqa: PLC0415

    return {
        "nproc": os.cpu_count(),
        "master": MASTER,
        "git_commit": git_commit(),
        "source_sha256": digest.hexdigest()[:16],
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def ensure_inputs(seed: int) -> str:
    """The seed's input directory, generated on first use. Keyed by the
    generator's own source too, so an edited generator never reads stale
    inputs."""
    with open(os.path.join(HERE, "inputs.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    out = os.path.join(WORK, "inputs", f"seed-{seed}-{version}")
    if not os.path.isdir(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "inputs.py"), "--seed", str(seed),
             "--out", out],
            check=True, timeout=170,
        )
    return out


class Bench:
    def __init__(self, args, run_dir: str, inputs_dir: str) -> None:
        from fulltextsearch_spark.config import EngineConfig  # noqa: PLC0415

        self.args = args
        self.workload = args.workload
        self.run_dir = run_dir
        self.corpus = os.path.join(inputs_dir, "corpus")
        with open(os.path.join(inputs_dir, "inputs.json")) as f:
            self.meta = json.load(f)
        self.index_root = os.path.join(run_dir, "index")
        self.events = os.path.join(run_dir, "events")
        self.cfg = EngineConfig()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.detail: dict = {}

    @property
    def name(self) -> str:
        return f"{self.workload}-seed{self.args.seed}-trace{self.args.trace}"

    # ------------------------------------------------------------ set-up
    def start_session(self) -> None:
        from fulltextsearch_spark.session import get_spark  # noqa: PLC0415

        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # no hsperfdata file: the JVM would write it to /tmp, outside the checkout
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            os.makedirs(self.events)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = self.t_setup = time.perf_counter()
        self.spark = get_spark(
            app_name="fts-perfbench", master=MASTER, shuffle_partitions=CORES,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0

    def tag(self, desc: str | None) -> None:
        """Label the next Spark jobs, so the event log maps stages to phases."""
        self.spark.sparkContext.setJobDescription(desc)

    def setup(self) -> None:
        """SETUP_REPS x (build -> count -> save -> load [-> prewarm]); the
        first rep warms the JVM and is not used for the build rate."""
        from fulltextsearch_spark.operators.compressed_index import (  # noqa: PLC0415
            build_compressed_index_pyfiles,
            save_compressed_index,
        )
        from fulltextsearch_spark.operators.serving import QueryServer  # noqa: PLC0415

        reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.tag(f"setup{rep}.build")
            idx = build_compressed_index_pyfiles(self.spark, self.corpus, self.cfg)
            self.tag(f"setup{rep}.count")
            idx.postings.count()
            t1 = time.perf_counter()
            self.tag(f"setup{rep}.save")
            save_compressed_index(idx, self.index_root)
            t2 = time.perf_counter()
            self.tag(f"setup{rep}.open")
            server = QueryServer.load(self.spark, self.index_root)
            t3 = time.perf_counter()
            if self.workload == "serve_hot":
                server.prewarm([(f"h{i}", q) for i, q in enumerate(self.meta["pool"])], self.cfg)
            t4 = time.perf_counter()
            reps.append({
                "setup_s": t4 - t0, "build_s": t1 - t0, "save_s": t2 - t1,
                "load_s": t3 - t2, "prewarm_s": t4 - t3,
            })
            self.tag(None)
            self._check_build(idx)
            self.spark.catalog.clearCache()
        self.server = server
        self.reps = reps

    def _check_build(self, idx) -> None:
        import pyarrow.parquet as pq  # noqa: PLC0415

        want = self.meta["stats"]
        total = pq.read_table(
            os.path.join(self.index_root, "postings"), columns=["count"]
        ).column("count").to_numpy().sum()
        got = {"n_docs": idx.n_docs, "avgdl": idx.avgdl, "total_postings": int(total)}
        self.attempted += 1
        if not (
            got["n_docs"] == want["n_docs"]
            and _close(got["avgdl"], want["avgdl"], 1e-12)
            and got["total_postings"] == want["total_postings"]
        ):
            self.failed += 1
            self.errors.append(f"build stats {got} != oracle {want}")

    def index_bytes(self) -> int:
        total = 0
        for dirpath, _, files in os.walk(self.index_root):
            total += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files
                if not f.startswith((".", "_"))
            )
        return total

    # ------------------------------------------------------------ serving loop
    def ops(self):
        """The workload's endless query stream: Zipf draws for serve_hot;
        for serve_cold the seeded tail log, pass after pass, with ``None``
        between passes (the loop then opens a fresh server)."""
        from inputs import hot_log  # noqa: PLC0415

        if self.workload == "serve_hot":
            pool = self.meta["pool"]
            yield from ((f"h{i}", pool[i]) for i in hot_log(self.args.seed, "serve"))
        while True:
            yield from ((f"c{j}", q) for j, q in enumerate(self.meta["cold"]))
            yield None

    def reopen(self) -> None:
        from fulltextsearch_spark.operators.serving import QueryServer  # noqa: PLC0415

        self.server = QueryServer.load(self.spark, self.index_root)
        self.detail["cold_log_passes"] = self.detail.get("cold_log_passes", 1) + 1

    def loop(self, ops, seconds: float, check: dict, tracer=None) -> dict:
        """Closed loop, one client: the next query starts when the last ends."""
        from fulltextsearch_spark.functions.tokenizer import tokenize  # noqa: PLC0415

        cfg = self.cfg
        lat: list[float] = []
        ends: list[float] = []
        failed = hits = terms = 0
        paused = 0.0
        t_start = time.perf_counter()
        for op in ops:
            if time.perf_counter() - t_start - paused >= seconds and len(lat) >= MIN_OPS:
                break
            if op is None:
                t0 = time.perf_counter()
                self.reopen()
                paused += time.perf_counter() - t0
                continue
            server = self.server
            if tracer is not None:
                # row-cache hit ratio, read before the call changes the cache
                ts = set(tokenize(op[1], cfg.stem))
                hits += sum(t in server._row_cache for t in ts)
                terms += len(ts)
                tracer.call = len(lat)
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    rows = server.search_local([op], cfg)
                else:
                    with tracer.span("serving.search_local"):
                        rows = server.search_local([op], cfg)
            except Exception:  # noqa: BLE001 - a failed call is counted, the loop goes on
                rows = None
                self.errors.append(traceback.format_exc(limit=3))
            t1 = time.perf_counter()
            lat.append(t1 - t0)
            ends.append(t1 - t_start - paused)
            if rows is None:
                failed += 1
            elif op[0] in check:
                check[op[0]] = rows
        wall = time.perf_counter() - t_start - paused
        if tracer is not None:
            tracer.call = None
        self.attempted += len(lat)
        self.failed += failed
        return {"lat": lat, "ends": ends, "wall": wall, "hits": hits, "terms": terms}

    def check_sample(self) -> dict[str, str]:
        """The oracle-checked queries: qid -> text."""
        n = len(self.meta["expected"][self.workload])
        if self.workload == "serve_hot":
            return {f"h{i}": q for i, q in enumerate(self.meta["pool"][:n])}
        return {f"c{i}": q for i, q in enumerate(self.meta["cold"][:n])}

    def check_answers(self, kind: str, texts: dict, check: dict, answer) -> None:
        """Compare a check sample's answers with the oracle; queries the
        timed loop did not reach are answered by ``answer`` here, outside
        the timed region."""
        from inputs import SCORE_TOL  # noqa: PLC0415

        missing = [(q, texts[q]) for q, rows in check.items() if rows is None]
        if missing:
            rows = answer(missing)
            for qid, _ in missing:
                check[qid] = [r for r in rows if r[0] == qid]
        bad = 0
        for qid, exp in zip(texts, self.meta["expected"][kind]):
            got = sorted(check[qid], key=lambda r: r[1])
            if not answer_ok(got, exp, SCORE_TOL):
                bad += 1
                if bad <= 3:
                    self.errors.append(f"{qid}: got {got[:3]} want {exp['top'][:3]}")
        self.attempted += len(missing)
        self.failed += bad
        self.detail[f"check_{kind}"] = {"queries": len(texts), "late": len(missing), "wrong": bad}

    # ------------------------------------------------------------ traced run
    def traced_loop(self, ops, base: dict, seconds: float) -> dict:
        import tracing  # noqa: PLC0415

        tracer = tracing.Tracer()
        undo = tracing.install(tracer)
        try:
            run = self.loop(ops, seconds, {}, tracer)
        finally:
            tracing.uninstall(undo)
        tracer.write(os.path.join(WORK, "results", f"{self.name}.spans.jsonl"))
        n = len(run["lat"])
        c = tracer.counts
        call = tracer.total("serving.search_local")
        tok = tracer.total("tokenizer.tokenize")
        fetch = tracer.total("serving.fetch")
        kern = tracer.total("wand.kernel")
        fill = tracer.total("serving.decode_fill")
        base_op = statistics.fmean(base["lat"])
        trace_op = statistics.fmean(run["lat"])
        self.detail["traced_queries"] = n
        return {
            "trace.overhead_ms": (trace_op - base_op) * 1e3,
            "trace.overhead_frac": (trace_op - base_op) / base_op,
            "serving.call_ms": call / n * 1e3,
            "tokenizer.query_ms": tok / n * 1e3,
            "serving.fetch_ms": fetch / n * 1e3,
            "wand.kernel_ms": kern / n * 1e3,
            "serving.decode_fill_ms": fill / n * 1e3,
            # Arrow->Python assembly: the call's self time
            "serving.assemble_ms": (call - tok - fetch - kern - fill) / n * 1e3,
            "serving.row_groups_read": c["row_groups_read"] / n,
            "serving.bytes_read": c["bytes_read"] / n,
            "wand.blocks_total": c["blocks_total"] / n,
            "wand.blocks_decoded": c["blocks_decoded"] / n,
            "wand.blocks_skipped_frac": (
                1.0 - c["blocks_decoded"] / c["blocks_total"] if c["blocks_total"] else 0.0
            ),
            "serving.row_cache_hit_frac": run["hits"] / run["terms"] if run["terms"] else 0.0,
            # QueryServer has no stats() yet: read its cache byte ledgers
            "serving.row_cache_mb": self.server._row_bytes / 2**20,
            "serving.decoded_cache_mb": self.server._dec_bytes / 2**20,
        }

    def tokenizer_rate(self) -> float:
        """Single-thread ``term_counts_flat`` over the corpus row groups
        (second pass, warm stem memo, as build workers run)."""
        import pyarrow.parquet as pq  # noqa: PLC0415

        from fulltextsearch_spark.functions.tokenizer import term_counts_flat  # noqa: PLC0415

        cols = []
        for fn in sorted(os.listdir(self.corpus)):
            pf = pq.ParquetFile(os.path.join(self.corpus, fn))
            cols += [
                pf.read_row_group(rg, columns=["text"]).column("text")
                for rg in range(pf.metadata.num_row_groups)
            ]
        dt = 0.0
        for _ in range(2):
            t0 = time.perf_counter()
            for c in cols:
                term_counts_flat(c, self.cfg.stem, order="term")
            dt = time.perf_counter() - t0
        return sum(len(c) for c in cols) / dt

    def spark_query_path(self) -> tuple[dict, list[str]]:
        """The batch query path: one ``search_wand`` job per batch over
        ``load_compressed_index`` (batch 0 oracle-checked), then ROADMAP item
        2's pruned-vs-exhaustive contrast on the same 500 queries: in-process
        kernels (``wand_kernel_ab``) and the whole job both ways."""
        from fulltextsearch_spark.operators.compressed_index import (  # noqa: PLC0415
            load_compressed_index,
        )
        from fulltextsearch_spark.operators.wand import search_wand, wand_kernel_ab  # noqa: PLC0415

        index = load_compressed_index(self.spark, self.index_root)

        def job(queries, tag, prune=True):
            self.tag(tag)
            t0 = time.perf_counter()
            qdf = self.spark.createDataFrame(queries, "query_id STRING, content STRING")
            rows = [tuple(r) for r in search_wand(index, qdf, self.cfg, prune=prune).collect()]
            self.tag(None)
            return rows, time.perf_counter() - t0

        batches = [
            [(f"b{b}q{j}", q) for j, q in enumerate(batch)]
            for b, batch in enumerate(self.meta["batches"])
        ]
        tags = [f"trace.batch{b}" for b in range(len(batches))]
        walls, checked = [], {}
        for batch, tag in zip(batches, tags):
            rows, wall = job(batch, tag)
            walls.append(wall)
            checked = checked or {q: [r for r in rows if r[0] == q] for q, _ in batch}
        texts = dict(batches[0][: len(self.meta["expected"]["batch"])])
        self.check_answers(
            "batch", texts, {q: checked[q] for q in texts}, lambda qs: job(qs, "late")[0]
        )
        self.attempted += sum(len(b) for b in batches)
        union = [q for b in batches for q in b]
        self.tag("trace.kernel_ab")
        ab = wand_kernel_ab(
            index, self.spark.createDataFrame(union, "query_id STRING, content STRING"),
            self.cfg,
        )
        return {
            "wand.batch_s": statistics.median(walls),
            "wand.kernel_prune_ms": ab["prune_ms"],
            "wand.kernel_full_ms": ab["full_ms"],
            "wand.job_prune_s": job(union, "trace.job_prune")[1],
            "wand.job_exhaustive_s": job(union, "trace.job_full", prune=False)[1],
        }, tags

    # ------------------------------------------------------------ driver
    def run(self) -> dict:
        self.start_session()
        self.setup()
        texts = self.check_sample()
        check = dict.fromkeys(texts)
        ops = self.ops()
        # the traced run splits its time between the plain and the traced loop
        seconds = self.args.seconds / (2 if self.args.trace else 1)
        setup_s = time.perf_counter() - self.t_setup
        base = self.loop(ops, seconds, check)
        self.env = environment(self.spark)
        self.check_answers(
            self.workload, texts, check, lambda qs: self.server.search_local(qs, self.cfg)
        )
        lat_ms = [x * 1e3 for x in base["lat"]]
        win = window_stats(base["lat"], base["ends"], base["wall"])
        reps = self.reps
        n_docs = self.meta["stats"]["n_docs"]
        index_bytes = self.index_bytes()
        metrics = {
            "setup_s": setup_s,
            "build_docs_per_s": n_docs / statistics.median(
                r["build_s"] + r["save_s"] for r in reps[1:]
            ),
            "index_bytes_per_doc": index_bytes / n_docs,
            "query_p50_ms": statistics.median(w["p50"] for w in win),
            "queries_per_s": statistics.median(w["qps"] for w in win),
            "peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        }
        self.detail.update({
            "samples": len(lat_ms),
            "loop_s": base["wall"],
            "windows": win,
            # p99 is reported here only: on serve_cold a slice's p99 rests on
            # a few calls, and the host's slow spells set it (see README)
            "query_p99_ms": statistics.median(w["p99"] for w in win),
            "whole_loop": {
                "p50_ms": statistics.median(lat_ms),
                "p99_ms": _p99(lat_ms),
                "qps": len(lat_ms) / base["wall"],
            },
            "session_s": self.session_s,
            "setup_reps": reps,
        })
        if not self.args.trace:
            return {"metrics": metrics}

        import tracing  # noqa: PLC0415

        layers = dict.fromkeys(LAYER_UNITS, 0.0)
        layers.update(self.traced_loop(ops, base, seconds))
        last = reps[-1]
        layers.update({
            "session.start_s": self.session_s,
            "compressed_index.build_s": last["build_s"],
            "compressed_index.save_s": last["save_s"],
            "compressed_index.index_bytes": float(index_bytes),
            "serving.load_s": last["load_s"],
            "serving.prewarm_s": last["prewarm_s"],
            "tokenizer.docs_per_s": self.tokenizer_rate(),
        })
        batch_tags: list[str] = []
        if self.workload == "serve_cold":
            spark_layers, batch_tags = self.spark_query_path()
            layers.update(spark_layers)
        stop_spark(self.spark)  # also flushes the event log
        self.spark = None
        layers.update(tracing.stage_layers(
            tracing.event_log_file(self.events), f"setup{SETUP_REPS - 1}", batch_tags
        ))
        return {"metrics": metrics, "layers": layers}


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it: it exits
    when its stdin closes, and takes the python worker daemon with it."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WHY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import fulltextsearch_spark  # noqa: F401, PLC0415
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    load_before = os.getloadavg()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    # keep every temp file, Spark's included, inside the checkout
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = None

    bench = None
    try:
        bench = Bench(args, run_dir, ensure_inputs(args.seed))
        out = bench.run()
    finally:
        if bench is not None and bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = out["layers"] if args.trace else out["metrics"]
    units = LAYER_UNITS if args.trace else UNITS
    detail = {
        "workload": args.workload,
        "why": WHY[args.workload],
        "seed": args.seed,
        "seconds": args.seconds,
        "corpus": bench.meta["corpus"],
        "env": {**bench.env, "loadavg_before": load_before, "loadavg_after": os.getloadavg()},
        "error_frac": bench.failed / max(bench.attempted, 1),
        "errors": bench.errors[:5],
        "end_to_end": {k: {"value": v, "unit": UNITS[k]} for k, v in out["metrics"].items()},
        **bench.detail,
    }
    if args.trace:
        detail["per_layer"] = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in metrics.items()}
    with open(os.path.join(WORK, "results", f"{bench.name}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
