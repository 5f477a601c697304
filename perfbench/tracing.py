"""Spans and layer counters for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files only: :func:`install`
swaps wrappers in around the public calls each serving layer makes, and
:func:`uninstall` puts the originals back, so the untraced run executes the
engine untouched. A span is ``(id, name, start, end, parent, call)``; spans
of one query call share ``call``. They stay in memory and are written out
once, at the end of the run.

Spark stages are attributed to layers from the session's event log (on in
the traced run only): the benchmark tags each phase with a job description,
and :func:`stage_layers` joins those tags with the per-stage wall, task time
and GC of ``scripts/stage_profile.profile()`` plus the stage's operator
scopes and shuffle bytes.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.call: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        self.spans.append(None)  # reserve the id; filled in when it closes
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid] = (sid, name, t0, time.perf_counter(), parent, self.call)

    def total(self, name: str) -> float:
        """Summed seconds of every closed span called ``name``."""
        return sum(s[3] - s[2] for s in self.spans if s is not None and s[1] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                if s is not None:
                    sid, name, t0, t1, parent, call = s
                    f.write(json.dumps({
                        "id": sid, "name": name, "start": t0, "end": t1,
                        "parent": parent, "call": call,
                    }) + "\n")


def install(tracer: Tracer) -> list[tuple]:
    """Wrap the serving layers' entry points; returns the undo list."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    from fulltextsearch_spark.operators import serving, wand  # noqa: PLC0415

    tokenize = serving.tokenize
    kernel = serving.maxscore_topk
    decode = wand.decode_term_streams
    read_rg = pq.ParquetFile.read_row_group
    counts = tracer.counts

    def traced_tokenize(*a, **kw):
        with tracer.span("tokenizer.tokenize"):
            return tokenize(*a, **kw)

    def traced_kernel(*a, **kw):
        st: dict = {}
        with tracer.span("wand.kernel"):
            out = kernel(*a, stats=st, **kw)
        counts["blocks_total"] += st.get("blocks_total", 0)
        counts["blocks_decoded"] += st.get("blocks_decoded", 0)
        return out

    def traced_decode(*a, **kw):
        with tracer.span("serving.decode_fill"):
            return decode(*a, **kw)

    def traced_read(self, i, columns=None, *a, **kw):
        with tracer.span("serving.fetch"):
            out = read_rg(self, i, columns, *a, **kw)
        rg = self.metadata.row_group(i)
        want = None if columns is None else set(columns)
        counts["row_groups_read"] += 1
        counts["bytes_read"] += sum(
            rg.column(c).total_compressed_size
            for c in range(rg.num_columns)
            if want is None or rg.column(c).path_in_schema.split(".")[0] in want
        )
        return out

    patches = [
        (serving, "tokenize", traced_tokenize),
        (serving, "maxscore_topk", traced_kernel),
        (wand, "decode_term_streams", traced_decode),
        (pq.ParquetFile, "read_row_group", traced_read),
    ]
    undo = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
    for obj, attr, fn in patches:
        setattr(obj, attr, fn)
    return undo


def uninstall(undo: list[tuple]) -> None:
    for obj, attr, fn in undo:
        setattr(obj, attr, fn)


def event_log_file(event_dir: str) -> str:
    """The single (non-rolling, uncompressed) event log in ``event_dir``."""
    logs = [f for f in os.listdir(event_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {logs}")
    return os.path.join(event_dir, logs[0])


def _stage_info(path: str) -> tuple[dict, dict]:
    """job description -> [(job id, [stage ids])] and stage id -> (scopes,
    shuffle bytes written), from one event log."""
    jobs: dict[str, list] = defaultdict(list)
    stages: dict[int, tuple[set, int]] = {}
    with open(path, errors="replace") as f:
        for line in f:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                jobs[desc].append((ev["Job ID"], [s["Stage ID"] for s in ev["Stage Infos"]]))
            elif '"SparkListenerStageCompleted"' in line:
                info = json.loads(line)["Stage Info"]
                scopes = {
                    json.loads(r["Scope"])["name"] for r in info["RDD Info"] if r.get("Scope")
                }
                shuffle = sum(
                    int(a.get("Value") or 0)
                    for a in info.get("Accumulables", [])
                    if a.get("Name") == "internal.metrics.shuffle.write.bytesWritten"
                )
                stages[info["Stage ID"]] = (scopes, shuffle)
    return jobs, stages


def stage_layers(path: str, build_tag: str, batch_tags: list[str]) -> dict[str, float]:
    """Per-layer stage metrics for the build phases tagged ``build_tag``
    (``.build``/``.count``/``.save``) and for the batch jobs, one tag per
    batch (reported as per-batch means)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "scripts"))
    from stage_profile import profile  # noqa: PLC0415

    prof = {r["stage"]: r for r in profile(path) if r.get("wall_ms") is not None}
    jobs, stages = _stage_info(path)

    def done(tag: str) -> list[list[int]]:  # completed stage ids per job, in job order
        return [[s for s in sids if s in prof] for _, sids in sorted(jobs.get(tag, []))]

    def wall(sids) -> float:
        return sum(prof[s]["wall_ms"] for s in sids) / 1e3

    def has(s: int, name: str) -> bool:
        return name in stages[s][0]

    build_jobs = done(f"{build_tag}.build")
    count_stages = [s for j in done(f"{build_tag}.count") for s in j]
    save_stages = [s for j in done(f"{build_tag}.save") for s in j]
    # the map stage tokenizes and packs partials (MapInArrow over the
    # manifest); the jobs after it reduce the corpus stats off the cache
    map_job = next(
        (i for i, j in enumerate(build_jobs)
         if any(has(s, "MapInArrow") and not has(s, "InMemoryTableScan") for s in j)),
        len(build_jobs),
    )
    map_stages = [
        s for s in (build_jobs[map_job] if map_job < len(build_jobs) else [])
        if has(s, "MapInArrow") and not has(s, "InMemoryTableScan")
    ]
    build_stages = [s for j in build_jobs for s in j] + count_stages
    out = {
        "compressed_index.map_stage_s": wall(map_stages),
        "compressed_index.map_cpu_s": sum(prof[s]["run_ms"] for s in map_stages) / 1e3,
        "compressed_index.shuffle_write_bytes": float(sum(stages[s][1] for s in build_stages)),
        "compressed_index.merge_stage_s": wall(
            s for s in count_stages if has(s, "MapInPandas") and not has(s, "InMemoryTableScan")
        ),
        "compressed_index.stats_agg_s": wall(s for j in build_jobs[map_job + 1:] for s in j),
        "compressed_index.gc_s": sum(
            prof[s]["gc_ms"] for s in build_stages + save_stages
        ) / 1e3,
        "compressed_index.stage_s": wall(build_stages),
    }
    batch = [s for tag in batch_tags for j in done(tag) for s in j]
    n = max(len(batch_tags), 1)
    score = [s for s in batch if has(s, "FlatMapGroupsInPandas")]
    out.update({
        "wand.scan_join_stage_s": wall(s for s in batch if s not in score) / n,
        "wand.score_stage_s": wall(score) / n,
        "wand.score_cpu_s": sum(prof[s]["run_ms"] for s in score) / 1e3 / n,
        "wand.job_shuffle_bytes": sum(stages[s][1] for s in batch) / n,
    })
    return out
