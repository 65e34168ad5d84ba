"""End-to-end KG-construction pipeline with checkpoint/resume and
per-partition lineage metrics (BASELINE.md resumability row).

The reference resumes long batch jobs from incremental JSON/CSV
checkpoints (test/validate_sampling.py:158-216, challenge_utils.py:
399-413 append-reopen). Here every stage optionally materializes to a
parquet checkpoint; a resumed run reads any stage whose checkpoint is
complete (parquet ``_SUCCESS``) instead of recomputing, so a kill at
any stage boundary resumes to byte-identical output. A manifest
records the stages + row counts; a metrics table records per-stage,
per-partition row counts (lineage) plus the per-row content-sha
integrity check.

Stage DAG (one wide shuffle each; SURVEY.md §7):
  closure → entity_types
  cells → candidates, cells_m
  cells_m, candidates, entity_types → cea → cta, cpa
  cells, cea, cta → triples

Every mode runs the same schedule: each stage is one task on one
thread pool and blocks only on the futures of its inputs. Stages are
submitted in ``STAGES`` order, which is topological, and the pool has
a worker per task, so independent stages overlap (the Python-worker-
bound candidate scorer next to the JVM-bound ``cells_m`` join, the
dims-only ``entity_types`` next to the whole cells chain) and a stage
blocked on its inputs never keeps those inputs from starting. The
modes differ only in how ``_Checkpointer`` stores a stage.
"""

from __future__ import annotations

import json
import os
import threading
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..barriers import parquet_barrier
from ..constants import AGENT_CLASS
from ..operators.annotate import cea as cea_op
from ..operators.annotate import cpa as cpa_op
from ..operators.annotate import cta as cta_op
from ..operators.candidates import generate_candidates
from ..operators.closure import build_closure, closure_to_map
from ..operators.emit import build_rows_present, emit_triples
from ..operators.types_cascade import (
    build_entity_types,
    make_most_specific_udf,
)
from ..sources.csv_cells import data_cells, parse_cells
from ..sources.repo_source import discover_csv_artifacts

STAGES = [
    "closure", "cells", "candidates", "cells_m", "entity_types",
    "cea", "cta", "cpa", "triples",
]


@dataclass
class PipelineResult:
    stages: dict[str, DataFrame] = field(default_factory=dict)
    metrics: list[dict] = field(default_factory=list)


# stages whose output is consumed by 2+ downstream branches AND carries
# pandas-UDF columns (Catalyst re-evaluates Python UDFs per reference):
# these stay eagerly materialized even in fused mode. Everything else
# flows lazily into one AQE-planned DAG — the answer to the round-1
# stage-barrier tax (8 sequential full materializations → 3).
# cells: the mapInPandas CSV parse, consumed by candidates + emission.
# candidates: the fuzzy-scoring subtree, materialized by one action of
# its own so that it runs next to cells_m instead of inside cea's write
# (and so generate_candidates may fuse its internal barriers away).
# ALL fused barriers are parquet-backed (barriers.py): a parquet scan
# carries real size statistics, so Catalyst broadcasts a barrier that
# is small and shuffle-joins one that is not — the scale-appropriate
# plan falls out of the stats instead of per-join hints. (A
# localCheckpoint scan has NO stats and is treated as enormous, which
# inverted broadcast choices — see operators/annotate.py history.)
_FUSED_BARRIERS = {"cells", "candidates", "cells_m", "entity_types", "cea"}


class _Checkpointer:
    def __init__(self, spark: SparkSession, root: str | None, resume: bool,
                 materialize: str = "auto"):
        self.spark = spark
        self.root = root
        self.resume = resume
        self.materialize = materialize
        self.metrics: list[dict] = []

    def done(self, name: str) -> bool:
        """True when ``name`` will be read from its checkpoint."""
        return (
            self.resume and self.root is not None
            and os.path.exists(os.path.join(self.root, name, "_SUCCESS"))
        )

    def stage(self, name: str, compute, extra_metric=None) -> DataFrame:
        # label every job this stage triggers (AQE/broadcast subjobs
        # inherit the description through their captured thread-locals)
        self.spark.sparkContext.setJobDescription(f"tds:{name}")
        try:
            return self._stage(name, compute, extra_metric)
        finally:
            self.spark.sparkContext.setJobDescription(None)

    def _stage(self, name: str, compute, extra_metric=None) -> DataFrame:
        if self.root is None:
            if self.materialize == "all":
                # registry mode (small sf, stages queried repeatedly):
                # executor-storage checkpoints are fine at that scale
                return compute().localCheckpoint()
            if name in _FUSED_BARRIERS:
                # plan truncation at the stage boundary — without it
                # Catalyst re-analyzes the upstream tree per action and
                # re-runs the stage's pandas UDFs once per consumer.
                # Fact-scale outputs go through a parquet barrier, NOT
                # localCheckpoint (see barriers.py: a full-corpus
                # executor-storage checkpoint starves every later
                # shuffle of execution memory)
                return parquet_barrier(compute(), name)
            return compute()
        path = os.path.join(self.root, name)
        if self.done(name):
            df = self.spark.read.parquet(path)
            self.metrics.append({"stage": name, "resumed": True})
            return df
        df = compute()
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        # per-partition lineage row counts (A9 metrics-table role).
        # ``extra_metric(out) -> DataFrame[metric string, n long]``
        # rides the SAME collect (one driver action per stage, not
        # two — the sha-integrity fold, VERDICT r02 #1b).
        lineage = out.groupBy(
            F.spark_partition_id().alias("pid")
        ).agg(F.count(F.lit(1)).alias("rows")).select(
            F.lit(None).cast("string").alias("metric"), "pid", "rows"
        )
        if extra_metric is not None:
            lineage = lineage.unionByName(
                extra_metric(out).select(
                    "metric", F.lit(-1).alias("pid"), F.col("n").alias("rows")
                )
            )
        collected = lineage.collect()
        part_counts = [
            {"stage": name, "partition": r["pid"], "rows": r["rows"]}
            for r in collected if r["metric"] is None
        ]
        self.metrics.append(
            {
                "stage": name,
                "resumed": False,
                "rows": sum(p["rows"] for p in part_counts),
                "partitions": part_counts,
            }
        )
        for r in collected:
            if r["metric"] is not None:
                self.metrics.append({"stage": r["metric"], "mismatches": r["rows"]})
        return out

    def finish(self) -> None:
        if self.root is None:
            return
        with open(os.path.join(self.root, "manifest.json"), "w") as f:
            json.dump({"stages": STAGES, "metrics": self.metrics}, f, indent=1)


def _once(fn):
    """``fn()`` computed by the first caller on any thread, then shared."""
    lock = threading.Lock()
    box: list = []

    def get():
        with lock:
            if not box:
                box.append(fn())
            return box[0]
    return get


def run_pipeline(
    spark: SparkSession,
    dfs: dict[str, DataFrame],
    checkpoint_dir: str | None = None,
    resume: bool = True,
    stop_after: str | None = None,
    materialize: str = "auto",
) -> PipelineResult:
    """dfs: the corpus tables (see sources.corpus_to_dataframes).

    ``stop_after='cea'`` simulates a mid-run kill at a stage boundary;
    a later call with the same checkpoint_dir resumes from there.

    ``materialize`` (no-checkpoint mode only): 'auto' fuses the DAG —
    only the multi-consumed UDF-bearing stages are eagerly
    materialized and a single action on ``triples`` runs one
    AQE-planned plan; 'all' eagerly materializes every stage (use when
    the result's intermediate stages will be queried repeatedly, e.g.
    the driver-contract registry).
    """
    ck = _Checkpointer(spark, checkpoint_dir, resume, materialize)
    futures: dict[str, Future] = {}

    def get(name: str) -> DataFrame:
        return futures[name].result()

    # each runs once, for whichever stage needs it first; a resumed
    # cells_m + candidates pair never writes a mention_bridge barrier
    closure_map = _once(lambda: closure_to_map(get("closure")))
    cells_m_and_candidates = _once(lambda: generate_candidates(
        data_cells(get("cells")), dfs["entity_index"], fused=True
    ))

    # per-row content-sha integrity (BASELINE.json input_hint
    # invariant): every (path, content_sha) seen in cells must equal
    # the sha2 of the source row's content. Folded into the cells
    # stage's lineage collect — one driver action, not two.
    def sha_integrity(cells_out: DataFrame) -> DataFrame:
        # join on the source table's NATURAL key (repo, path) — path
        # alone collides across repos in a multi-repo corpus and would
        # report false mismatches on intact data
        src_sha = dfs["source_repos"].select(
            "repo", "path", F.sha2(F.col("content"), 256).alias("src_sha")
        )
        return (
            cells_out.select("repo", "path", "content_sha").distinct()
            .join(src_sha, ["repo", "path"], "left")
            .where(
                F.col("src_sha").isNull()
                | (F.col("src_sha") != F.col("content_sha"))
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit("sha_integrity").alias("metric"), "n")
        )

    computes = {
        "closure": lambda: build_closure(
            dfs["ontology_edges"], dfs["ontology_equivalent"]
        ),
        "cells": lambda: parse_cells(discover_csv_artifacts(dfs["source_repos"])),
        "candidates": lambda: cells_m_and_candidates()[1],
        # cells + mention_norm, consumed by CEA here and by the
        # fragment query — a first-class stage so that a resumed run
        # reads it instead of re-running the bridge normalization
        # subtree, which re-scans the full cell table and would
        # otherwise execute once per consumer (~25-30 s CPU at the
        # sf2.5 scaling corpus)
        "cells_m": lambda: cells_m_and_candidates()[0],
        "entity_types": lambda: build_entity_types(
            dfs["entity_index"], dfs["kg_triples"], dfs["property_meta"],
            get("closure"), closure_map(),
        ),
        # cea/emit keep their internal barriers (fused=False): without
        # them the fuzzy-scoring subtree is re-executed per consumer
        # (2-3× slower at sf0.1) and ReuseExchange does not collapse
        # the near-identical exchanges
        "cea": lambda: cea_op(
            get("cells_m"), get("candidates"), get("entity_types")
        ),
        "cta": lambda: cta_op(
            get("cea"), get("entity_types"),
            make_most_specific_udf(closure_map(), AGENT_CLASS), get("closure"),
        ),
        "cpa": lambda: cpa_op(get("cea"), dfs["kg_triples"]),
        "triples": lambda: emit_triples(
            get("cells"), get("cea"), get("cta"),
            rows_present=get("rows_present"),
        ),
    }
    names = STAGES if stop_after is None else STAGES[: STAGES.index(stop_after) + 1]
    # the emission row spine depends only on cells: materialized next
    # to the candidates/CEA chain instead of inside the triples stage
    early_spine = "triples" in names and not ck.done("triples")
    pool = ThreadPoolExecutor(max_workers=len(names) + early_spine)

    def submit(fn, *args) -> Future:
        # the caller's job group, scheduler pool etc. carry over to the
        # stage's thread; each submit takes its own copy, since the
        # stage sets its job description in it
        return pool.submit(inheritable_thread_target(spark)(fn), *args)

    try:
        for name in names:
            futures[name] = submit(
                ck.stage, name, computes[name],
                sha_integrity if name == "cells" else None,
            )
            if name == "cells" and early_spine:
                futures["rows_present"] = submit(
                    lambda: build_rows_present(get("cells"))
                )
        res = PipelineResult({n: get(n) for n in names}, ck.metrics)
    finally:
        # a failed stage fails every stage that reads it; the rest run
        # to completion here, so no pool thread outlives the call
        pool.shutdown(wait=True, cancel_futures=True)
    ck.finish()
    return res
