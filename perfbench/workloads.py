"""The benchmark's workloads: seeded input generators, the timed
bodies, the untimed output checks and the traced bodies.

Each workload has a ``main`` phase, which exercises the mechanism the
ROADMAP's planned optimisations target, and a ``control`` phase on
which no change is predicted (README.md, "Layers and end-to-end
metrics"). Generators take the seed as an argument; the program
receives only the generated inputs. Every output is checked against an
independent reference computed here, outside the timed phases.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import time
from concurrent.futures import ProcessPoolExecutor
from contextlib import nullcontext
from multiprocessing import get_context

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

# the original functions, imported before Tracer.patch swaps the
# package's own references: a call made by the benchmark opens its span
# explicitly, and only the program's internal calls go through wrappers
from tabular_data_semantics_py_spark.barriers import (
    list_generations,
    parquet_barrier,
    reclaim_new_generations,
)
from tabular_data_semantics_py_spark.constants import AGENT_CLASS
from tabular_data_semantics_py_spark.fixtures.generator import make_corpus
from tabular_data_semantics_py_spark.fixtures.oracle import build_gold
from tabular_data_semantics_py_spark.functions.xxh64 import spark_xxhash64
from tabular_data_semantics_py_spark.operators.annotate import cea, cpa, cta
from tabular_data_semantics_py_spark.operators.candidates import generate_candidates
from tabular_data_semantics_py_spark.operators.closure import (
    build_closure,
    closure_to_map,
)
from tabular_data_semantics_py_spark.operators.dedup import (
    minhash_lsh_pairs,
    near_dup_canonicalize,
    simhash_pairs,
)
from tabular_data_semantics_py_spark.operators.emit import emit_triples
from tabular_data_semantics_py_spark.operators.similarity import (
    cosine_pairs_blocked,
    srp_lsh_pairs,
)
from tabular_data_semantics_py_spark.operators.temporal import (
    asof_join,
    range_agg,
    sessionize,
)
from tabular_data_semantics_py_spark.operators.types_cascade import (
    build_entity_types,
    make_most_specific_udf,
)
from tabular_data_semantics_py_spark.plans.pipeline import run_pipeline
from tabular_data_semantics_py_spark.sources.csv_cells import data_cells, parse_cells
from tabular_data_semantics_py_spark.sources.repo_source import (
    _write_corpus_parquet,
    corpus_parquet_dir,
    discover_csv_artifacts,
    load_or_build_corpus_dfs,
)


def engine_warmup(spark, path: str) -> None:
    """Start the Python workers (one Arrow UDF task per core) and run one
    parquet round trip on a small input, so that the first timed phase
    does not pay for them. Code paths of the workload itself are
    compiled by the first phase that runs them: the control phase."""
    n = spark.sparkContext.defaultParallelism

    def double(it):
        for p in it:
            yield p.assign(v=p.v * 2)

    df = spark.range(0, 20_000, 1, n).select("id", (F.col("id") % 7).alias("v"))
    write(df.mapInPandas(double, df.schema), path)
    spark.read.parquet(path).agg(F.sum("v")).collect()


class OpLog:
    """Timed operations attempted, and those that raised or whose
    output failed its check."""

    def __init__(self):
        self.status: dict[str, str] = {}
        self.notes: list[str] = []

    def run(self, label: str, thunk):
        try:
            return thunk()
        except Exception as e:  # an operation that raised is counted, not fatal
            self.status[label] = "raised"
            self.notes.append(f"{label}: raised {type(e).__name__}: {e}"[:400])
            return None
        finally:
            self.status.setdefault(label, "ok")

    def check(self, label: str, ok: bool, detail: str = "") -> None:
        if self.status.get(label) == "ok" and not ok:
            self.status[label] = "wrong"
            self.notes.append(f"{label}: wrong output: {detail}"[:400])

    @property
    def attempted(self) -> int:
        return len(self.status)

    @property
    def failed(self) -> int:
        return sum(1 for v in self.status.values() if v != "ok")


def write(df, path: str) -> str:
    df.write.mode("overwrite").parquet(path)
    return path


def read(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def precision_recall(emitted: set, expected: set) -> tuple[float, float]:
    inter = len(emitted & expected)
    return (inter / len(emitted) if emitted else 1.0,
            inter / len(expected) if expected else 1.0)


class Workload:
    name = ""

    def __init__(self, seed: int, tiny: bool, work: str, cache: str):
        self.seed = seed
        self.tiny = tiny
        self.work = work
        self.cache = cache
        self.tracer = None
        self.inputs: dict = {}
        self.results: dict = {}

    def call(self, name: str, thunk):
        """Run ``thunk`` inside span ``name`` when tracing."""
        tr = self.tracer
        with tr.span(name) if tr is not None and tr.enabled else nullcontext():
            return thunk()

    def traced_extra(self, spark, ops: OpLog) -> None:
        """Traced-pass work beyond one iteration (none by default)."""

    def phase(self, name: str, thunk):
        """A timed phase; traced as span ``phase.<name>``."""
        return self.call(f"phase.{name}", thunk)

    def out(self, *parts) -> str:
        return os.path.join(self.work, "out", *map(str, parts))


# ---------------------------------------------------------------------
# KG construction


class KG(Workload):
    """The flagship batch run: source-code tables in, CEA/CTA/CPA and
    triples out. Main: ``run_pipeline`` fused (no checkpoint). Control:
    the checkpointed path, stopped after ``cea`` and resumed."""

    name = "kg"
    PHASES = ("fused", "checkpoint")

    def size(self) -> tuple[int, int]:
        return (24, 8) if self.tiny else (2000, 200)

    def prepare(self) -> dict:
        n, epc = self.size()
        corpus = make_corpus(n_tables=n, entities_per_class=epc, seed=self.seed)
        parts = self.gold_parts(corpus)
        self.gold = {k: {tuple(r) for p in parts for r in getattr(p, k)}
                     for k in ("cea", "cta", "cpa", "triples")}
        root = corpus_parquet_dir(n, epc, self.seed)
        if not os.path.exists(os.path.join(root, "_DONE")):
            _write_corpus_parquet(corpus, root)
        self.inputs = {"tables": n, "entities_per_class": epc,
                       "entities": len(corpus.entities),
                       "cells": sum(len(p.cells) for p in parts),
                       "gold_triples": len(self.gold["triples"])}
        return self.inputs

    GOLD_CHUNK = 100

    @classmethod
    def gold_parts(cls, corpus) -> list:
        """``build_gold`` on slices of ``GOLD_CHUNK`` tables, one worker
        process per core (this runs before the session starts). The
        oracle keys every annotation and triple by table, so the union
        of the slices' gold is the corpus's gold (README.md, "Checks"),
        while the whole corpus at once costs time quadratic in its
        tables: its CPA vote scans every CEA cell once per table."""
        chunks = [dataclasses.replace(corpus, tables=corpus.tables[i:i + cls.GOLD_CHUNK])
                  for i in range(0, len(corpus.tables), cls.GOLD_CHUNK)]
        workers = min(len(os.sched_getaffinity(0)), len(chunks))
        with ProcessPoolExecutor(workers, mp_context=get_context("fork")) as ex:
            return list(ex.map(build_gold, chunks))

    def load(self, spark) -> None:
        n, epc = self.size()
        self.dfs = load_or_build_corpus_dfs(spark, n, epc, self.seed)

    @staticmethod
    def _triples(path: str) -> set:
        t = read(path)
        return set(zip(t.subj.tolist(), t.pred.tolist(), t.obj.tolist(),
                       t.obj_is_literal.astype(bool).tolist()))

    def iteration(self, spark, k: int, ops: OpLog, probe=False) -> dict:
        """The checkpointed control first, so that the fused main phase
        runs on code paths the control has already compiled. ``probe``:
        the fused phase only."""
        before = list_generations(spark)
        ck = self.out("ck", k)
        t = {}

        def checkpointed():
            stop = ops.run(f"stop_cea#{k}", lambda: self.call(
                "pipeline.run_pipeline",
                lambda: run_pipeline(spark, self.dfs, checkpoint_dir=ck,
                                     stop_after="cea")))
            t["stopped"] = time.perf_counter()
            resumed = ops.run(f"resume#{k}", lambda: self.call(
                "pipeline.run_pipeline",
                lambda: run_pipeline(spark, self.dfs, checkpoint_dir=ck)))
            return stop, resumed
        t0 = t["stopped"] = time.perf_counter()
        stop, resumed = (None, None) if probe else self.phase(
            "checkpoint", checkpointed)
        t1 = time.perf_counter()
        ops.run(f"fused#{k}", lambda: self.phase("fused", lambda: self._fused(spark, k)))
        t2 = time.perf_counter()
        reclaim_new_generations(spark, before)
        # outside the timer: keep what the checks need
        r = self.results.setdefault(k, {})
        if ops.status[f"fused#{k}"] == "ok":
            r["triples"] = self._triples(self.out("fused", k))
        if stop is not None:
            r["stop_metrics"] = list(stop.metrics)
        if resumed is not None:
            r["resume_metrics"] = list(resumed.metrics)
            r["ck"] = self._annotations(ck)
        return {"main_s": t2 - t1, "control_s": t1 - t0, "fused_s": t2 - t1,
                "checkpoint_s": t1 - t0, "resume_s": t1 - t["stopped"],
                "triples": len(r.get("triples", ()))}

    def _fused(self, spark, k: int) -> None:
        def body():
            res = run_pipeline(spark, self.dfs)
            write(res.stages["triples"], self.out("fused", k))
        tr = self.tracer
        if tr is not None and tr.enabled:
            with tr.span("pipeline.run_pipeline", anchor=True):
                return body()
        return body()

    def _annotations(self, ck: str) -> dict:
        """The checkpointed run's stage outputs, read without Spark."""
        a = {n: read(os.path.join(ck, n)) for n in ("cea", "cta", "cpa")}
        return {
            "cea": set(zip(*(a["cea"][c].tolist()
                             for c in ("table_id", "col", "row", "uri")))),
            "cta": set(zip(*(a["cta"][c].tolist()
                             for c in ("table_id", "col", "cls", "ancestors")))),
            "cpa": set(zip(*(a["cpa"][c].tolist()
                             for c in ("table_id", "col_subj", "col_obj", "pred")))),
            "triples": self._triples(os.path.join(ck, "triples")),
        }

    def check(self, k: int, ops: OpLog) -> dict:
        r = self.results.get(k, {})
        scores = []
        if "triples" in r:
            p = precision_recall(r["triples"], self.gold["triples"])
            scores += p
            ops.check(f"fused#{k}", min(p) >= 0.95, f"triples P/R {p}")
        if "stop_metrics" in r:
            sha = [m for m in r["stop_metrics"] if m.get("stage") == "sha_integrity"]
            ops.check(f"stop_cea#{k}", len(sha) == 1 and sha[0]["mismatches"] == 0,
                      f"sha_integrity {sha}")
        if "ck" in r:
            p = {t: precision_recall(got, self.gold[t])
                 for t, got in r["ck"].items()}
            scores += [x for v in p.values() for x in v]
            by = {m["stage"]: m for m in r["resume_metrics"] if "resumed" in m}
            ok = (by.get("cea", {}).get("resumed") is True
                  and by.get("triples", {}).get("resumed") is False)
            ops.check(f"resume#{k}", ok, "resume did not reuse the cea checkpoint")
            ops.check(f"resume#{k}", min(min(v) for v in p.values()) >= 0.95,
                      f"P/R {p}")
            ops.check(f"resume#{k}", r["ck"]["triples"] == r.get("triples"),
                      "resumed triples differ from the fused triples")
        return {"kg_min_pr": min(scores)} if scores else {}

    def corrupt(self, k: int) -> list[str]:
        """Self-check: drop one emitted triple; → the operations whose
        check must catch it (the resumed triples no longer equal these)."""
        r = self.results[k]
        r["triples"] = set(sorted(r["triples"])[1:])
        return [f"resume#{k}"]

    def traced_extra(self, spark, ops: OpLog) -> None:
        path = ops.run("staged#0", lambda: self.phase(
            "staged", lambda: self.staged(spark)))
        if path is not None:
            ops.check("staged#0", self._triples(path) == self.results[0].get("triples"),
                      "the stages called one at a time gave other triples")

    def staged(self, spark) -> str:
        """The pipeline's stages called one at a time in its order, each
        materialized inside its span. Returns the triples path."""
        dfs, call = self.dfs, self.call
        closure = call("closure.build_closure", lambda: parquet_barrier(
            build_closure(dfs["ontology_edges"], dfs["ontology_equivalent"]),
            "closure"))
        cells = call("csv_cells.parse_cells", lambda: parquet_barrier(
            parse_cells(discover_csv_artifacts(dfs["source_repos"])), "cells"))

        def cand():
            # fused=True, as run_pipeline calls it without a checkpoint dir
            cm, cd = generate_candidates(data_cells(cells), dfs["entity_index"],
                                         fused=True)
            return parquet_barrier(cm, "cells_m"), parquet_barrier(cd, "candidates")
        cells_m, cands = call("candidates.generate_candidates", cand)
        box = {}

        def types():
            box["map"] = closure_to_map(closure)
            return parquet_barrier(build_entity_types(
                dfs["entity_index"], dfs["kg_triples"], dfs["property_meta"],
                closure, box["map"]), "entity_types")
        et = call("types_cascade.build_entity_types", types)
        cea_df = call("annotate.cea", lambda: parquet_barrier(
            cea(cells_m, cands, et, fused=False), "cea"))
        ms_udf = make_most_specific_udf(box["map"], AGENT_CLASS)
        cta_df = call("annotate.cta", lambda: parquet_barrier(
            cta(cea_df, et, ms_udf, closure), "cta"))
        call("annotate.cpa", lambda: parquet_barrier(
            cpa(cea_df, dfs["kg_triples"]), "cpa"))
        path = self.out("staged")
        call("emit.emit_triples", lambda: write(
            emit_triples(cells, cea_df, cta_df, fused=False), path))
        self.staged_counts = {
            "mentions": cells_m.where(F.col("mention_norm").isNotNull())
            .select("mention_norm").distinct().count(),
            "candidates": cands.count()}
        return path


# ---------------------------------------------------------------------
# near-duplicate detection

DOC_T = 0.8       # MinHash-LSH / canonicalization Jaccard threshold
NGRAM = 3         # word shingles
VEC_T = 0.9       # cosine threshold
DIM = 64
MAX_HAMMING = 3   # simhash_pairs default
SCHEMAS = {
    "docs": "doc_id long, text string",
    "vecs": "vec_id long, embedding array<double>",
    "events": "event_id long, user_id long, ts_us long, value double, is_left boolean",
}
VOCAB = 50_000    # words w0 .. w49999


def _docs(rng, n: int, hot: int, n_exact: int, n_near: int, id_base: int):
    """→ (DataFrame[doc_id, text], planted clusters as lists of ids).
    ``hot`` identical copies of one document, ``n_exact`` clusters of
    2-6 identical copies, ``n_near`` clusters of a base plus 2-4 copies
    each with one word substituted; the rest is distinct."""
    def doc():
        return rng.integers(0, VOCAB, size=int(rng.integers(40, 70)))

    texts, clusters = [], []

    def add(members):
        start = len(texts)
        texts.extend(members)
        clusters.append(list(range(start, len(texts))))

    if hot:
        d = doc()
        add([d] * hot)
    for _ in range(n_exact):
        d = doc()
        add([d] * int(rng.integers(2, 7)))
    for _ in range(n_near):
        d = doc()
        copies = [d]
        for _ in range(int(rng.integers(2, 5))):
            c = d.copy()
            c[int(rng.integers(0, len(c)))] = int(rng.integers(0, VOCAB))
            copies.append(c)
        add(copies)
    while len(texts) < n:
        texts.append(doc())
    ids = id_base + rng.permutation(len(texts))
    df = pd.DataFrame({"doc_id": ids.astype(np.int64),
                       "text": [" ".join(f"w{t}" for t in d) for d in texts]})
    return df, [[int(ids[i]) for i in c] for c in clusters]


def _vecs(rng, n: int, hot: int, n_near: int, id_base: int):
    base = rng.standard_normal((n, DIM))
    clusters, at = [], 0
    if hot:
        base[:hot] = base[0]
        clusters.append(list(range(hot)))
        at = hot
    for _ in range(n_near):
        c = int(rng.integers(2, 6))
        base[at:at + c] = base[at] + 0.1 * rng.standard_normal((c, DIM))
        clusters.append(list(range(at, at + c)))
        at += c
    ids = id_base + rng.permutation(n)
    df = pd.DataFrame({"vec_id": ids.astype(np.int64), "embedding": list(base)})
    return df, [[int(ids[i]) for i in c] for c in clusters]


def _shingles(text: str) -> frozenset:
    toks = text.split(" ")
    return frozenset(tuple(toks[i:i + NGRAM])
                     for i in range(max(len(toks) - NGRAM + 1, 1)))


_SHIFTS = np.arange(64, dtype=np.uint64)


def _token_hashes(cache: str) -> np.ndarray:
    """Spark's xxhash64 (seed 42) of every vocabulary word, from the
    program's pure-Python mirror of it; cached, as the vocabulary does
    not depend on the seed."""
    path = os.path.join(cache, f"token-xxh64-{VOCAB}.npy")
    if not os.path.exists(path):
        h = np.array([spark_xxhash64(f"w{t}") & (2**64 - 1) for t in range(VOCAB)],
                     dtype=np.uint64)
        np.save(path + ".tmp.npy", h)
        os.replace(path + ".tmp.npy", path)
    return np.load(path)


def _simhash(text: str, table: np.ndarray) -> int:
    """64-bit SimHash: bit b set iff at least half of the word
    occurrences have bit b set in their hash."""
    h = table[[int(w[1:]) for w in text.split(" ")]]
    ones = ((h[:, None] >> _SHIFTS) & np.uint64(1)).sum(axis=0)
    return int(((ones * 2 >= len(h)).astype(np.uint64) << _SHIFTS).sum())


_POP16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.int64)


def _popcount(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64)
    return sum(_POP16[((x >> np.uint64(s)) & np.uint64(0xFFFF)).astype(np.int64)]
               for s in (0, 16, 32, 48))


def _union_find(ids, edges) -> dict:
    parent = {int(i): int(i) for i in ids}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in edges:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in parent}


def _cluster_pairs(clusters) -> set:
    out = set()
    for c in clusters:
        s = sorted(c)
        for x in range(len(s)):
            for y in range(x + 1, len(s)):
                out.add((s[x], s[y]))
    return out


class NearDup(Workload):
    """Documents through SimHash and canonicalization (MinHash-LSH over
    word shingles, then connected components), vectors through SRP-LSH
    and blocked cosine. ``dense``: planted exact-copy clusters, one of
    them hot, plus near-copy clusters. ``sparse``: almost no
    duplicates."""

    PHASES = ("dense", "sparse")

    def sizes(self) -> dict:
        if self.tiny:
            return {"docs": 300, "hot": 60, "vecs": 300, "hot_vecs": 60}
        return {"docs": 1500, "hot": 1000, "vecs": 1500, "hot_vecs": 300}

    def prepare(self) -> dict:
        z = self.sizes()
        rng = np.random.default_rng([self.seed, 1])
        self.data = {}
        os.makedirs(self.out("in"), exist_ok=True)
        for ph, base in (("dense", 0), ("sparse", 10_000_000)):
            dense = ph == "dense"
            docs, dcl = _docs(rng, z["docs"], z["hot"] if dense else 0,
                              z["docs"] // 40 if dense else 0,
                              z["docs"] // 40 if dense else z["docs"] // 200, base)
            vecs, vcl = _vecs(rng, z["vecs"], z["hot_vecs"] if dense else 0,
                              z["vecs"] // 40 if dense else z["vecs"] // 200, base)
            self.data[ph] = {"docs": docs, "doc_clusters": dcl, "vecs": vecs,
                             "vec_clusters": vcl}
        for ph, d in self.data.items():
            for kind in ("docs", "vecs"):
                pq.write_table(pa.Table.from_pandas(d[kind], preserve_index=False),
                               self.out("in", f"{kind}_{ph}.parquet"),
                               row_group_size=256)
        for ph in self.PHASES:
            d = self.data[ph]
            n_docs = len(d["docs"])
            self.inputs[ph] = {
                "docs": n_docs, "vectors": len(d["vecs"]),
                "doc_duplicate_share": round(
                    1 - d["docs"].text.nunique() / n_docs, 4),
                "largest_doc_cluster": max((len(c) for c in d["doc_clusters"]),
                                           default=0),
                "vector_duplicate_share": round(
                    sum(len(c) - 1 for c in d["vec_clusters"]) / len(d["vecs"]), 4),
            }
        return self.inputs

    def load(self, spark) -> None:
        self.frames = {
            ph: {k: spark.read.schema(SCHEMAS[k]).parquet(
                self.out("in", f"{k}_{ph}.parquet")) for k in ("docs", "vecs")}
            for ph in self.PHASES
        }

    def run_phase(self, spark, ph: str, tag, ops: OpLog) -> None:
        docs, vecs = self.frames[ph]["docs"], self.frames[ph]["vecs"]
        o = lambda op: self.out(tag, ph, op)  # noqa: E731
        call = self.call
        ops.run(f"{ph}.simhash#{tag}", lambda: call(
            "dedup.simhash_pairs", lambda: write(simhash_pairs(docs), o("simhash"))))
        if ph == "dense":
            # canonicalization runs MinHash-LSH and connected components
            ops.run(f"{ph}.canonical#{tag}", lambda: call(
                "dedup.near_dup_canonicalize", lambda: write(
                    near_dup_canonicalize(docs, DOC_T, ngram=NGRAM), o("canonical"))))
        else:
            ops.run(f"{ph}.minhash#{tag}", lambda: call(
                "dedup.minhash_lsh_pairs", lambda: write(
                    minhash_lsh_pairs(docs, DOC_T, ngram=NGRAM), o("minhash"))))
        ops.run(f"{ph}.srp#{tag}", lambda: call(
            "similarity.srp_lsh_pairs", lambda: write(
                srp_lsh_pairs(vecs, spark, VEC_T), o("srp"))))
        if ph == "dense":
            ops.run(f"{ph}.cosine#{tag}", lambda: call(
                "similarity.cosine_pairs_blocked", lambda: write(
                    cosine_pairs_blocked(vecs, VEC_T), o("cosine"))))

    def check_phase(self, ph: str, k, ops: OpLog) -> None:
        d = self.data[ph]
        o = lambda op: self.out(k, ph, op)  # noqa: E731
        label = lambda op: f"{ph}.{op}#{k}"  # noqa: E731
        texts = dict(zip(d["docs"].doc_id.tolist(), d["docs"].text.tolist()))
        if ops.status.get(label("simhash")) == "ok":
            p = read(o("simhash"))
            got = set(zip(p.i.tolist(), p.j.tolist()))
            ref, fp = _simhash_reference(texts, _token_hashes(self.cache))
            ham = _popcount(np.array([fp[i] ^ fp[j] for i, j in zip(p.i, p.j)],
                                     dtype=np.uint64))
            ops.check(label("simhash"),
                      got == ref and len(got) == len(p)
                      and bool((ham == p.hamming.to_numpy()).all()),
                      f"{len(got ^ ref)} pairs differ from the brute-force set")
        if ops.status.get(label("minhash")) == "ok":
            p = read(o("minhash"))
            got = set(zip(p.i.tolist(), p.j.tolist()))
            ref = _jaccard_pairs(texts)
            ok = (got == set(ref) and len(got) == len(p)
                  and all(ref[(i, j)] == (a, b) for i, j, a, b in zip(
                      p.i.tolist(), p.j.tolist(), p["inter"].tolist(), p["uni"].tolist())))
            ops.check(label("minhash"), ok,
                      f"{len(got ^ set(ref))} pairs differ from the exact Jaccard set")
        if ops.status.get(label("canonical")) == "ok":
            c = read(o("canonical"))
            ref = _canonical_reference(texts)
            got = dict(zip(c.doc_id.tolist(), c.canonical_id.tolist()))
            clusters_ok = all(len({got.get(i) for i in cl}) == 1
                              for cl in d["doc_clusters"])
            flags_ok = bool(((c.canonical_id == c.doc_id) == c.is_canonical).all())
            ops.check(label("canonical"),
                      len(c) == len(ref) and got == ref and clusters_ok and flags_ok,
                      f"{sum(got.get(i) != r for i, r in ref.items())} docs have "
                      "another canonical id than the exact-Jaccard components")
        V = np.stack(d["vecs"].embedding.to_numpy())
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        ids = d["vecs"].vec_id.to_numpy()
        row = {int(i): r for r, i in enumerate(ids.tolist())}
        gram = Vn @ Vn.T
        # pairs clearly above the threshold must be emitted; pairs within
        # 1e-9 of it may go either way (the program folds in another order)
        sure = _upper_pairs(ids, gram >= VEC_T + 1e-9)
        maybe = _upper_pairs(ids, gram >= VEC_T - 1e-9)
        planted = _cluster_pairs(d["vec_clusters"])
        for op in ("srp", "cosine"):
            if ops.status.get(label(op)) != "ok":
                continue
            p = read(o(op))
            got = set(zip(p.i.tolist(), p.j.tolist()))
            a = np.array([row[i] for i, _ in got], dtype=np.int64)
            b = np.array([row[j] for _, j in got], dtype=np.int64)
            cos = gram[a, b] if len(got) else np.array([])
            ok = (len(got) == len(p) and all(i < j for i, j in got)
                  and bool((cos >= VEC_T - 1e-9).all()) and planted <= got)
            if op == "cosine":
                ok = ok and sure <= got <= maybe
            ops.check(label(op), ok, f"{len(got)} pairs; "
                      f"{len(planted - got)} planted pairs missing")

    def corrupt(self, k) -> list[str]:
        """Self-check: add one spurious pair to the dense SimHash output."""
        path = self.out(k, "dense", "simhash")
        t = pq.read_table(path)
        have = set(zip(t.column("i").to_pylist(), t.column("j").to_pylist()))
        ids = sorted(self.data["dense"]["docs"].doc_id.tolist())
        i, j = next((a, b) for a, b in zip(ids, ids[1:]) if (a, b) not in have)
        extra = pa.table({"i": [i], "j": [j], "hamming": [0]}, schema=t.schema)
        shutil.rmtree(path)
        os.makedirs(path)
        pq.write_table(pa.concat_tables([t, extra]), os.path.join(path, "part-0.parquet"))
        return [f"dense.simhash#{k}"]


def _upper_pairs(ids: np.ndarray, mask: np.ndarray) -> set:
    r, c = np.nonzero(np.triu(mask, 1))
    return {(min(a, b), max(a, b)) for a, b in zip(ids[r].tolist(), ids[c].tolist())}


def _simhash_reference(texts: dict, table: np.ndarray) -> tuple[set, dict]:
    """All doc pairs within MAX_HAMMING, by brute force over the
    distinct fingerprints; → (pairs, fingerprint per doc)."""
    fp = {i: _simhash(t, table) for i, t in texts.items()}
    groups: dict[int, list[int]] = {}
    for i, f in fp.items():
        groups.setdefault(f, []).append(i)
    keys = np.array(list(groups), dtype=np.uint64)
    ref = set()
    for a in range(len(keys)):
        for b in np.nonzero(_popcount(keys[a] ^ keys[a:]) <= MAX_HAMMING)[0]:
            for x in groups[int(keys[a])]:
                for y in groups[int(keys[a + b])]:
                    if x != y:
                        ref.add((min(x, y), max(x, y)))
    return ref, fp


def _jaccard_graph(texts: dict):
    """→ (distinct texts, their doc ids, shingle sets, edges between
    distinct texts with shingle Jaccard >= DOC_T), exactly, through a
    shingle index over the distinct texts."""
    members: dict[str, list[int]] = {}
    for i, t in texts.items():
        members.setdefault(t, []).append(i)
    distinct = list(members)
    sh = [_shingles(t) for t in distinct]
    index: dict = {}
    for n, s in enumerate(sh):
        for g in s:
            index.setdefault(g, []).append(n)
    cand = {(a, b) for post in index.values()
            for x, a in enumerate(post) for b in post[x + 1:]}
    edges = [(a, b) for a, b in cand
             if len(sh[a] & sh[b]) >= DOC_T * len(sh[a] | sh[b])]
    return distinct, members, sh, edges


def _jaccard_pairs(texts: dict) -> dict:
    """Every doc pair with shingle Jaccard >= DOC_T → (inter, uni)."""
    distinct, members, sh, edges = _jaccard_graph(texts)
    out = {}
    for n, t in enumerate(distinct):
        m = sorted(members[t])
        for x, i in enumerate(m):
            for j in m[x + 1:]:
                out[(i, j)] = (len(sh[n]), len(sh[n]))
    for a, b in edges:
        iu = (len(sh[a] & sh[b]), len(sh[a] | sh[b]))
        for i in members[distinct[a]]:
            for j in members[distinct[b]]:
                out[(min(i, j), max(i, j))] = iu
    return out


def _canonical_reference(texts: dict) -> dict:
    """Each doc's canonical id: the min id of its component in the
    graph of pairs with shingle Jaccard >= DOC_T."""
    distinct, members, _, edges = _jaccard_graph(texts)
    comp = _union_find(range(len(distinct)), edges)
    low: dict[int, int] = {}
    for n, t in enumerate(distinct):
        low[comp[n]] = min(low.get(comp[n], min(members[t])), min(members[t]))
    return {i: low[comp[n]] for n, t in enumerate(distinct) for i in members[t]}


# ---------------------------------------------------------------------
# temporal operators under key skew

ASOF_PAYLOAD = ["event_id", "value"]
RANGE = (-10_000, -1)
GAP = 5_000


def _events(rng, n: int, users: int, hot_share: float) -> pd.DataFrame:
    ts = rng.permutation(np.unique(rng.integers(0, 1_000_000_000, size=n * 2)))[:n]
    user = rng.integers(1, users, size=n)
    if hot_share:
        user[rng.random(n) < hot_share] = 0
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "user_id": user.astype(np.int64),
        "ts_us": ts.astype(np.int64),
        "value": rng.integers(0, 100_000, size=n) / 100.0,
        "is_left": rng.random(n) < 0.5,
    })


class EventSkew(Workload):
    """As-of join, range aggregation and sessionization with the
    hot-key device on. ``hot``: one key carries a stated share of all
    rows. ``uniform``: the same row count, no hot key."""

    PHASES = ("hot", "uniform")
    HOT_SHARE = 0.5

    def sizes(self) -> dict:
        if self.tiny:
            return {"rows": 4000, "users": 50, "hot_threshold": 500}
        return {"rows": 100_000, "users": 1_250, "hot_threshold": 6_250}

    def prepare(self) -> dict:
        z = self.sizes()
        rng = np.random.default_rng([self.seed, 2])
        self.data = {
            "hot": _events(rng, z["rows"], z["users"], self.HOT_SHARE),
            "uniform": _events(rng, z["rows"], z["users"], 0.0),
        }
        os.makedirs(self.out("in"), exist_ok=True)
        for ph, ev in self.data.items():
            pq.write_table(pa.Table.from_pandas(ev, preserve_index=False),
                           self.out("in", f"events_{ph}.parquet"),
                           row_group_size=max(len(ev) // 16, 1))
        for ph in self.PHASES:
            ev = self.data[ph]
            self.inputs[ph] = {
                "rows": len(ev), "users": int(ev.user_id.nunique()),
                "hot_key_share": round(float((ev.user_id == 0).mean()), 4),
                "left_rows": int(ev.is_left.sum()),
                "hot_threshold": z["hot_threshold"],
            }
        return self.inputs

    def load(self, spark) -> None:
        self.frames = {ph: spark.read.schema(SCHEMAS["events"]).parquet(
            self.out("in", f"events_{ph}.parquet")) for ph in self.PHASES}

    def run_phase(self, spark, ph: str, tag, ops: OpLog) -> None:
        ev = self.frames[ph]
        th = self.sizes()["hot_threshold"]
        left = ev.where("is_left").select("event_id", "user_id", "ts_us", "value")
        right = ev.where("NOT is_left").select("user_id", "ts_us", "event_id", "value")
        o = lambda op: self.out(tag, ph, op)  # noqa: E731
        call = self.call
        ops.run(f"{ph}.asof#{tag}", lambda: call("temporal.asof_join", lambda: write(
            asof_join(left.select("event_id", "user_id", "ts_us"), right,
                      on="user_id", ts_col="ts_us", payload_cols=ASOF_PAYLOAD,
                      tiebreak_col="event_id", hot_threshold=th), o("asof"))))
        ops.run(f"{ph}.range#{tag}", lambda: call("temporal.range_agg", lambda: write(
            range_agg(left.select("event_id", "user_id", "ts_us"),
                      right.select("user_id", "ts_us", "value"), on="user_id",
                      ord_col="ts_us", lower=RANGE[0], upper=RANGE[1],
                      hot_threshold=th), o("range"))))
        ops.run(f"{ph}.sessions#{tag}", lambda: call("temporal.sessionize", lambda: write(
            sessionize(ev.select("user_id", "ts_us", "value"), on="user_id",
                       ord_col="ts_us", gap=GAP, hot_threshold=th), o("sessions"))))

    def check_phase(self, ph: str, k, ops: OpLog) -> None:
        ev = self.data[ph]
        cents = np.rint(ev.value.to_numpy() * 100).astype(np.int64)
        ev = ev.assign(cents=cents)
        left = ev[ev.is_left].sort_values("ts_us")
        right = ev[~ev.is_left].sort_values("ts_us")
        label = lambda op: f"{ph}.{op}#{k}"  # noqa: E731
        o = lambda op: self.out(k, ph, op)  # noqa: E731
        if ops.status.get(label("asof")) == "ok":
            ref = pd.merge_asof(
                left[["event_id", "user_id", "ts_us"]],
                right[["user_id", "ts_us", "event_id", "value"]].assign(
                    asof_ts_us=right.ts_us).rename(columns={
                        "event_id": "asof_event_id", "value": "asof_value"}),
                on="ts_us", by="user_id", direction="backward")
            got = read(o("asof"))
            cols = ["event_id", "asof_ts_us", "asof_event_id", "asof_value"]
            a = ref[cols].sort_values("event_id").reset_index(drop=True)
            b = got[cols].sort_values("event_id").reset_index(drop=True)
            ok = len(a) == len(b) and all(
                np.array_equal(a[c].to_numpy(dtype=float), b[c].to_numpy(dtype=float),
                               equal_nan=True) for c in cols)
            ops.check(label("asof"), ok, "as-of matches differ from merge_asof")
        if ops.status.get(label("range")) == "ok":
            # per-key sorted right ordinals with prefix sums of cents
            off, span = 2_000_000_000, 4_000_000_000
            rkey = right.user_id.to_numpy() * span + right.ts_us.to_numpy() + off
            order = np.argsort(rkey)
            rkey, rc = rkey[order], right.cents.to_numpy()[order]
            pre = np.concatenate([[0], np.cumsum(rc)])
            lkey = left.user_id.to_numpy() * span + left.ts_us.to_numpy() + off
            lo = np.searchsorted(rkey, lkey + RANGE[0], "left")
            hi = np.searchsorted(rkey, lkey + RANGE[1], "right")
            ref = pd.DataFrame({"event_id": left.event_id.to_numpy(),
                                "n": hi - lo, "c": pre[hi] - pre[lo]})
            got = read(o("range"))
            m = ref.merge(got, on="event_id", how="outer")
            sums = np.rint(m.sum_in_range.fillna(0).to_numpy() * 100).astype(np.int64)
            ok = (len(got) == len(ref) == len(m)
                  and bool((m.n == m.n_in_range).all()) and bool((sums == m.c).all())
                  and bool((m.sum_in_range.isna() == (m.n == 0)).all()))
            ops.check(label("range"), ok, "range aggregates differ from brute force")
        if ops.status.get(label("sessions")) == "ok":
            e = ev.sort_values(["user_id", "ts_us"])
            u, t = e.user_id.to_numpy(), e.ts_us.to_numpy()
            new = np.ones(len(e), dtype=bool)
            new[1:] = (u[1:] != u[:-1]) | (t[1:] - t[:-1] > GAP)
            sid = np.cumsum(new)
            ref = e.assign(sid=sid).groupby("sid").agg(
                user_id=("user_id", "first"), session_start=("ts_us", "min"),
                session_end=("ts_us", "max"), n_events=("ts_us", "size"),
                cents=("cents", "sum"))
            got = read(o("sessions"))
            got_c = np.array([int(x * 100) for x in got.total_dec], dtype=np.int64)
            a = sorted(zip(ref.user_id, ref.session_start, ref.session_end,
                           ref.n_events, ref.cents))
            b = sorted(zip(got.user_id, got.session_start, got.session_end,
                           got.n_events, got_c))
            ops.check(label("sessions"), a == b,
                      f"{len(a)} reference sessions vs {len(b)}")

    def corrupt(self, k) -> list[str]:
        """Self-check: drop one as-of output row."""
        path = self.out(k, "hot", "asof")
        t = pq.read_table(path)
        shutil.rmtree(path)
        os.makedirs(path)
        pq.write_table(t.slice(1), os.path.join(path, "part-0.parquet"))
        return [f"hot.asof#{k}"]


# ---------------------------------------------------------------------
# the operator families together


class Operators(Workload):
    """Near-duplicate detection and the temporal operators. Main: the
    ``dense`` and ``hot`` phases, which exercise the duplicate-collapse
    and hot-key paths. Control: the ``sparse`` and ``uniform`` phases,
    where those paths find nothing to do."""

    name = "operators"
    MAIN = (("near_dup", "dense"), ("event_skew", "hot"))
    CONTROL = (("near_dup", "sparse"), ("event_skew", "uniform"))
    PHASES = ("sparse", "uniform", "dense", "hot")

    def __init__(self, *args):
        super().__init__(*args)
        self.parts = {"near_dup": NearDup(*args), "event_skew": EventSkew(*args)}

    @property
    def tracer(self):
        return self._tracer

    @tracer.setter
    def tracer(self, value):
        self._tracer = value
        for part in getattr(self, "parts", {}).values():
            part.tracer = value

    def prepare(self) -> dict:
        self.inputs = {n: p.prepare() for n, p in self.parts.items()}
        return self.inputs

    def load(self, spark) -> None:
        for part in self.parts.values():
            part.load(spark)

    def iteration(self, spark, k: int, ops: OpLog, probe=False) -> dict:
        """The control phases first, so that the main phases run on code
        paths the control has already compiled. ``probe``: the hot
        phase only."""
        times = {}
        for key, phases in (("control_s", () if probe else self.CONTROL),
                            ("main_s", self.MAIN[1:] if probe else self.MAIN)):
            times[key] = 0.0
            for part, ph in phases:
                t0 = time.perf_counter()
                self.phase(ph, lambda: self.parts[part].run_phase(spark, ph, k, ops))
                times[f"{ph}_s"] = time.perf_counter() - t0
                times[key] += times[f"{ph}_s"]
        return times

    def check(self, k: int, ops: OpLog) -> dict:
        for part, ph in (*self.MAIN, *self.CONTROL):
            if os.path.isdir(self.out(k, ph)):
                self.parts[part].check_phase(ph, k, ops)
        return {}

    def corrupt(self, k) -> list[str]:
        return [label for part in self.parts.values() for label in part.corrupt(k)]


WORKLOADS = {w.name: w for w in (KG, Operators)}
