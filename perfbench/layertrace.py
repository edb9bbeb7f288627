"""The traced run: per-layer metrics without changing the program.

Two sources, both outside the engine's code:

* Calls into the engine's modules are wrapped from here. A wrapper
  names the layer it enters in the Spark job description (a local
  property every job started inside it carries into the event log),
  and times the calls whose cost is Python-side (``_append_lineage``).
  A job started outside every wrapper carries no layer. Three lazy
  corpus-build stages (near-dup clustering, decontamination, the
  budget filter) are materialized where they are built, so their
  stages run under their own name; that barrier is part of the tracing
  overhead. ``pipeline.apply_pipeline`` is lazy too, but its work is
  fused into the kernel stage and the write stage's shuffle read, so a
  wrapper around it would name no job.
* Spark's own event log, written uncompressed (Spark 4.1 defaults to
  zstd, which Python cannot read here), is reduced to per-pass task
  time, CPU, GC, shuffle, spill, skew and idle time. A stage that holds
  the QA kernel's Arrow UDF is the kernel's; any other stage belongs to
  the layer its job was started under, split by its operators where
  one call runs several layers' work (see ``_layer_of``). A stage of a
  job started outside every wrapper, or of a job Spark describes
  itself (file listing), is unattributed: ``trace.attributed_share``
  is the share of task time in named layers, and a traced run warns
  when it falls below ``MIN_ATTRIBUTED``.

Layers are the package's modules: session, sources.warc,
models.doc_kernel, pipeline, lineage, plans.queries (with operators).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import time

import pyarrow.dataset as ds

# every per-layer metric, in the order BENCHMARK.json lists them
METRICS = {
    "session.start_s": "s",
    "sources.records": "count",
    "sources.task_s": "s",
    "doc_kernel.docs": "count",
    "doc_kernel.model_docs": "count",
    "doc_kernel.cpu_s": "s",
    "doc_kernel.stage_task_s": "s",
    "doc_kernel.boundary_s": "s",
    "pipeline.exchanges": "count",
    "pipeline.shuffle_bytes_per_doc": "B",
    "lineage.write_task_s": "s",
    "lineage.files": "count",
    "lineage.readback_task_s": "s",
    "lineage.append_s": "s",
    "corpus.base_task_s": "s",
    "corpus.dedup_task_s": "s",
    "corpus.cc_jobs": "count",
    "corpus.decontam_task_s": "s",
    "corpus.budget_task_s": "s",
    "corpus.checkpoint_bytes": "B",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.jvm_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.task_skew": "ratio",
    "spark.idle_s": "s",
    "trace.attributed_share": "ratio",
    "trace.cpu_ms_per_doc": "ms",
}

_KERNEL_SCOPE = "ArrowEvalPython"
_WRITE_SCOPE = "WriteFiles"
# the layer names a wrapper can give a job; any other description is not ours
_LAYERS = ("sources.warc", "doc_kernel", "lineage", "corpus")
# below this share of task time in named layers the per-layer numbers
# leave too much out to be read as a breakdown
MIN_ATTRIBUTED = 0.9


class Tracer:
    def __init__(self, event_dir: str):
        self.event_dir = event_dir
        os.makedirs(event_dir, exist_ok=True)
        self._stack: list[str] = []
        self.passes: dict[int, dict] = {}
        self.session_s = 0.0

    # ------------------------------------------------------------------ layers

    def _describe(self) -> None:
        self.sc.setLocalProperty("spark.job.description", self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def layer(self, name: str):
        self._stack.append(name)
        self._describe()
        try:
            yield
        finally:
            self._stack.pop()
            self._describe()

    def _wrap(self, module, attr: str, layer: str, materialize: bool = False, timer: str | None = None):
        fn = getattr(module, attr)

        def wrapped(*args, **kwargs):
            t = time.perf_counter()
            with self.layer(layer):
                out = fn(*args, **kwargs)
                if materialize:
                    out = out.localCheckpoint(eager=True)
            if timer:
                self.cur[timer] = self.cur.get(timer, 0.0) + time.perf_counter() - t
            return out

        setattr(module, attr, wrapped)

    def _wrap_checkpoint(self, module) -> None:
        fn = module.checkpoint_df
        jsc = self.sc._jsc.sc()

        def wrapped(df):
            before = {r.id() for r in jsc.getRDDStorageInfo()}
            out = fn(df)
            new = [r for r in jsc.getRDDStorageInfo() if r.id() not in before]
            self.cur["ckpt_bytes"] = self.cur.get("ckpt_bytes", 0) + sum(r.memSize() + r.diskSize() for r in new)
            return out

        module.checkpoint_df = wrapped

    def attach(self, spark, wl, session_s: float) -> None:
        """Install the wrappers for workload ``wl``."""
        self.sc = spark.sparkContext
        self.wl = wl
        self.session_s = session_s
        if wl.name == "crawl_write":
            from eugl_spark import lineage

            self._wrap(lineage, "run_with_resume", "lineage")
            self._wrap(lineage, "done_buckets", "lineage.readback")
            self._wrap(lineage, "_append_lineage", "lineage.append", timer="append_s")
        else:
            from eugl_spark.operators import graph
            from eugl_spark.plans import queries

            self._wrap(queries, "build_training_corpus", "corpus.base")
            self._wrap(queries, "_dedup_clusters_lsh_from", "corpus.dedup", materialize=True)
            self._wrap(queries, "_connected_components", "corpus.cc")
            self._wrap(queries, "_decontaminate_from", "corpus.decontam", materialize=True)
            self._wrap(queries, "_budget_filter", "corpus.budget", materialize=True)
            self._wrap_checkpoint(queries)
            self._wrap_checkpoint(graph)

    # ------------------------------------------------------------------ passes

    def begin_pass(self, i: int, timed: bool) -> None:
        self.cur = self.passes[i] = {"timed": timed}
        self.sc.setLocalProperty("spark.jobGroup.id", f"pass{i}")
        self._stack = []
        self._describe()

    def end_pass(self, i: int, wall: float) -> None:
        """Record the pass; for crawl_write also read its output and run
        the sources probe (outside the pass's own timing)."""
        self.cur["wall"] = wall
        if self.wl.name != "crawl_write":
            return
        out = os.path.join(self.wl._pass_dir(i), "pages_out")
        files = [f for f in glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)]
        self.cur["files"] = len(files)
        qa = ds.dataset(out, format="parquet", partitioning="hive").to_table(columns=["qa"]).column("qa")
        lang = qa.combine_chunks().field("langid").field("lang")
        self.cur["model_docs"] = len(lang) - lang.null_count
        # sources layer alone: split + record count, as its own job group
        self.sc.setLocalProperty("spark.jobGroup.id", f"probe{i}")
        with self.layer("sources.warc"):
            self.cur["records"] = self.wl.source_records().count()
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    # ------------------------------------------------------------------ kernel

    def kernel_cpu(self) -> tuple[int, float]:
        """(rows with content, seconds): single-threaded in-process
        ``qa_batch`` over the rows the kernel sees, in 4096-row batches."""
        import pandas as pd
        import pyarrow.parquet as pq

        from eugl_spark.models.doc_kernel import qa_batch

        pages = pq.read_table(os.path.join(self.wl.data_dir, "pages.parquet"), columns=["html", "text"]).to_pandas()
        # as the parse hands them over: text from a conversion record,
        # the entity (possibly empty) from a response record
        text = pages["text"]
        html = pd.Series([None if t is not None else (h or b"") for t, h in zip(text, pages["html"])], dtype=object)
        docs, t0 = 0, time.process_time()
        for s in range(0, len(pages), 4096):
            out = qa_batch(text.iloc[s : s + 4096].reset_index(drop=True), html.iloc[s : s + 4096].reset_index(drop=True))
            docs += int(sum(1 for te in out["text_extracted"] if te))
        return docs, time.process_time() - t0

    # ------------------------------------------------------------------ reduce

    def metrics(self, cpu_ms_per_doc: float) -> dict:
        log = reduce_event_log(self.event_dir)
        per_pass = [self._pass_metrics(i, p, log) for i, p in self.passes.items() if p["timed"]]
        m = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
        m["session.start_s"] = self.session_s
        m["trace.cpu_ms_per_doc"] = cpu_ms_per_doc
        if self.wl.name == "crawl_write":
            m["doc_kernel.docs"], m["doc_kernel.cpu_s"] = self.kernel_cpu()
            m["doc_kernel.boundary_s"] = m["doc_kernel.stage_task_s"] - m["doc_kernel.cpu_s"]
        return {k: {"value": m.get(k, 0), "unit": u} for k, u in METRICS.items()}

    def _pass_metrics(self, i: int, p: dict, log: dict) -> dict:
        jobs = [j for j in log["jobs"].values() if j["group"] == f"pass{i}"]
        stages = [log["stages"][s] for j in jobs for s in j["stages"] if s in log["stages"]]
        by_layer: dict[str, float] = {}
        for st in stages:
            by_layer[st["layer"]] = by_layer.get(st["layer"], 0.0) + st["run_s"]
        total = sum(st["run_s"] for st in stages)
        named = sum(v for k, v in by_layer.items() if k.startswith(_LAYERS))
        probe = [log["stages"][s] for j in log["jobs"].values() if j["group"] == f"probe{i}"
                 for s in j["stages"] if s in log["stages"]]
        longest = max(stages, key=lambda st: st["run_s"])
        runs = sorted(longest["task_run_s"])
        kernel_jobs = [j for j in jobs if any(log["stages"].get(s, {}).get("layer") == "doc_kernel" for s in j["stages"])]
        exchanges = sum(log["exchanges"].get(j["sql"], 0) for j in kernel_jobs)
        busy = _union_s([(st["submit"], st["complete"]) for st in stages])
        return {
            "sources.records": p.get("records", 0),
            "sources.task_s": sum(st["run_s"] for st in probe),
            "doc_kernel.docs": 0,
            "doc_kernel.model_docs": p.get("model_docs", 0),
            "doc_kernel.cpu_s": 0.0,
            "doc_kernel.stage_task_s": by_layer.get("doc_kernel", 0.0),
            "doc_kernel.boundary_s": 0.0,
            "pipeline.exchanges": exchanges,
            "pipeline.shuffle_bytes_per_doc": sum(
                st["shuffle_w"] for j in kernel_jobs for s in j["stages"] if (st := log["stages"].get(s))
            ) / self.wl.n_docs,
            "lineage.write_task_s": by_layer.get("lineage.write", 0.0),
            "lineage.files": p.get("files", 0),
            "lineage.readback_task_s": by_layer.get("lineage.readback", 0.0),
            "lineage.append_s": p.get("append_s", 0.0),
            "corpus.base_task_s": by_layer.get("corpus.base", 0.0),
            "corpus.dedup_task_s": by_layer.get("corpus.dedup", 0.0) + by_layer.get("corpus.cc", 0.0),
            "corpus.cc_jobs": sum(1 for j in jobs if j["desc"] == "corpus.cc"),
            "corpus.decontam_task_s": by_layer.get("corpus.decontam", 0.0),
            "corpus.budget_task_s": by_layer.get("corpus.budget", 0.0),
            "corpus.checkpoint_bytes": p.get("ckpt_bytes", 0),
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(st["tasks"] for st in stages),
            "spark.task_s": total,
            "spark.jvm_cpu_s": sum(st["cpu_s"] for st in stages),
            "spark.gc_s": sum(st["gc_s"] for st in stages),
            "spark.shuffle_write_bytes": sum(st["shuffle_w"] for st in stages),
            "spark.spill_bytes": sum(st["spill"] for st in stages),
            "spark.task_skew": runs[-1] / max(statistics.median(runs), 1e-3),
            "spark.idle_s": max(p["wall"] - busy, 0.0),
            "trace.attributed_share": named / total if total else 0.0,
        }


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Seconds covered by the union of [start, end] millisecond intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


def _layer_of(job_desc: str | None, stage_name: str, scopes: str) -> str:
    """The layer of a stage without the kernel. Inside ``run_with_resume``
    the stage that writes files is the bucketed write and a stage that
    scans the written parquet or collects from it is the counter
    read-back; anything else there stays with the lineage module. A job
    no wrapper described is unattributed."""
    if job_desc == "lineage":
        if _WRITE_SCOPE in scopes:
            return "lineage.write"
        if "Scan parquet" in scopes or stage_name.startswith(("collect", "count")):
            return "lineage.readback"
        return "lineage"
    if job_desc and job_desc.startswith(_LAYERS):
        return job_desc
    return "unattributed"


def _count_exchanges(plan: str) -> int:
    """Exchange operators in the tree part of a physical plan."""
    tree = plan.split("\n\n", 1)[0]
    return len(re.findall(r"\b(?:Reused)?Exchange\b", tree))


def reduce_event_log(event_dir: str) -> dict:
    """jobs (group, description, stages, sql execution), stages (layer,
    task totals, submit/complete ms) and Exchange counts per SQL
    execution, from every event log under ``event_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list] = {}
    plans: dict[int, str] = {}
    # Spark 4 writes a rolling log: a directory of events_* files
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    sql = props.get("spark.sql.execution.id")
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "desc": props.get("spark.job.description"),
                        "stages": ev["Stage IDs"],
                        "sql": int(sql) if sql is not None else None,
                    }
                    for s in ev["Stage IDs"]:
                        stage_job[s] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append(
                        (
                            m.get("Executor Run Time", 0) / 1000.0,
                            m.get("Executor CPU Time", 0) / 1e9,
                            m.get("JVM GC Time", 0) / 1000.0,
                            sw.get("Shuffle Bytes Written", 0),
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        )
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    scopes = " ".join(r.get("Scope", "") for r in info.get("RDD Info", []))
                    stages[info["Stage ID"]] = {
                        "name": info.get("Stage Name", ""),
                        "scopes": scopes,
                        "kernel": _KERNEL_SCOPE in scopes,
                        "submit": info.get("Submission Time", 0),
                        "complete": info.get("Completion Time", 0),
                    }
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")
    for sid, st in stages.items():
        t = tasks.get(sid, [])
        job = jobs.get(stage_job.get(sid), {})
        st["layer"] = "doc_kernel" if st["kernel"] else _layer_of(job.get("desc"), st["name"], st["scopes"])
        st["tasks"] = len(t)
        st["task_run_s"] = [x[0] for x in t] or [0.0]
        st["run_s"] = sum(x[0] for x in t)
        st["cpu_s"] = sum(x[1] for x in t)
        st["gc_s"] = sum(x[2] for x in t)
        st["shuffle_w"] = sum(x[3] for x in t)
        st["spill"] = sum(x[4] for x in t)
    exchanges = {k: _count_exchanges(v) for k, v in plans.items()}
    return {"jobs": jobs, "stages": stages, "exchanges": exchanges}
