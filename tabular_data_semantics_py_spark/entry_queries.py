"""Query registry backing ``__spark_entry__.py``.

Two query families:

1. ``kg_*`` — the KG-construction operators (SURVEY.md §2) running on
   the deterministic fixture corpus (BASELINE.json: no external data;
   the corpus is synthesized in-process, seed=42). Oracle SQL embeds
   the fixture as VALUES CTEs and either re-implements the operator in
   ANSI SQL (closure, emission, voting, most-specific…) or pins the
   plain-Python oracle's goldens (CEA/CTA/CPA decisions).
2. testdata queries — relational / dedup / similarity / text-analysis
   operators over the driver's parquet tables (region nation customer
   supplier part orders lineitem events documents embeddings), with
   straight SQL oracles.

Numeric discipline (driver hashes values exactly):
- count-like outputs cast to bigint (DuckDB count/len are BIGINT)
- decimal-accumulated sums cast to double at the end (exact decimal
  arithmetic both engines, one deterministic final conversion)
- ratios/cosines as single IEEE-double operations in both engines
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import constants as C
from .fixtures.generator import make_corpus
from .fixtures.oracle import OracleExecutor

# ---------------------------------------------------------------------------
# fixture state (lazy, deterministic)
# ---------------------------------------------------------------------------
_STATE: dict = {}


def _fixture():
    if "corpus" not in _STATE:
        corpus = make_corpus()
        ex = OracleExecutor(corpus)
        gold = ex.run()
        _STATE.update(corpus=corpus, ex=ex, gold=gold)
    return _STATE["corpus"], _STATE["ex"], _STATE["gold"]


def _app_id(spark: SparkSession) -> str:
    # id(spark) can be recycled after a stopped session is GC'd, and
    # keying on it grows _STATE unboundedly; applicationId is unique
    # per SparkContext lifetime
    return spark.sparkContext.applicationId


def _pipeline(spark: SparkSession):
    app = _app_id(spark)
    key = ("pipe", app)
    if key not in _STATE:
        from .plans.pipeline import run_pipeline
        from .sources.repo_source import corpus_to_dataframes

        # evict state owned by previous (stopped) sessions
        for k in [k for k in _STATE if isinstance(k, tuple) and k[1] != app]:
            del _STATE[k]
        corpus, _, _ = _fixture()
        dfs = corpus_to_dataframes(spark, corpus)
        _STATE[("dfs", app)] = dfs
        # 'all': every stage is queried repeatedly by the contract
        # registry — materialize each once
        _STATE[key] = run_pipeline(spark, dfs, materialize="all")
    return _STATE[key]


def _dfs(spark: SparkSession):
    _pipeline(spark)
    return _STATE[("dfs", _app_id(spark))]


# ---------------------------------------------------------------------------
# SQL helpers
# ---------------------------------------------------------------------------

def _s(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def _values(rows, cols: str) -> str:
    rows = list(rows)
    if not rows:
        # '(VALUES ) AS t(...)' is invalid SQL — emit an empty relation
        # with the right column list instead
        ncols = len(cols.split(","))
        nulls = ", ".join(["NULL"] * ncols)
        return f"(SELECT {nulls} WHERE FALSE) AS t({cols})"
    body = ",\n".join("(" + ", ".join(_s(v) for v in r) + ")" for r in rows)
    return f"(VALUES\n{body}\n) AS t({cols})"


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, Callable[[], str]] = {}


def q(name: str, oracle: Callable[[], str] | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_LAST_SF_DIR: list[str] = []

# parquet-footer probe memo: (path, mtime) → (row groups, rows).
# Metadata only — never rows or results.
_RG_MEMO: dict[tuple[str, float], tuple[int, int]] = {}


def _effective_splits(path: str) -> tuple[int, int]:
    """(non-empty scan splits, rows) of this parquet file. Spark
    splits files by byte ranges, but a parquet row group is assigned
    to the one split holding its midpoint — a file with a single
    giant row group therefore collapses to ONE non-empty split no
    matter what maxPartitionBytes says, and every operator fused
    above the scan runs single-task (guide §2.5 input skew).
    Driver-side footer read, memoized on (path, mtime)."""
    try:
        key = (path, os.path.getmtime(path))
        if key not in _RG_MEMO:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(path).metadata
            _RG_MEMO[key] = (md.num_row_groups, md.num_rows)
        return _RG_MEMO[key]
    except Exception:
        return (1 << 30, 0)  # unknown layout: assume healthy, no shuffle


def _load(spark: SparkSession, sf_dir: str, table: str,
          rebalance: bool = False) -> DataFrame:
    # Record the sf the driver actually drove so scalar-recomputation
    # oracles (minhash signatures, simhash) rebuild over the SAME
    # table — the contract gives oracle_sql() no sf argument.
    _LAST_SF_DIR[:] = [sf_dir]
    path = os.path.join(sf_dir, f"{table}.parquet")
    df = spark.read.parquet(path)
    if rebalance:
        # Unsplittable-input remediation (guide §2.5: "one huge
        # unsplittable file — repartition immediately after the
        # read"), requested only by queries whose pre-shuffle map work
        # dominates (gram explodes, GEMM/UDF passes, per-pair folds).
        # The footer probe makes it a NO-OP on healthy layouts: a
        # 100 TB table has thousands of row groups and never pays the
        # extra exchange; only a row-group-starved file (the testdata
        # writes one row group per table) is spread. Width = the
        # session's shuffle width (scale-adaptive, not a core-count
        # constant). Row order is irrelevant to every registered
        # query (set-compared against the oracle).
        # The rows floor keeps tiny tables (sf0.01 gate corpora, the
        # sf0.1 embeddings) off the remedial shuffle: below it the
        # serial map work is cheaper than re-executing the exchange
        # once per consuming action (measured: emb_ivf_knn's six
        # actions each re-shuffled a 2k-row table, +1.3 s at sf0.1).
        width = spark.sparkContext.defaultParallelism
        n_splits, n_rows = _effective_splits(path)
        if n_splits < max(width // 4, 2) and n_rows >= 4000:
            df = df.repartition(width)
    return df


def _oracle_sf_dir() -> str:
    """sf-dir for oracles that recompute scalar-side: explicit env
    override > the sf_dir the driver last passed to a query > the
    driver's correctness-gate default (sf0.01).

    Ordering caveat: oracle strings are BUILT when oracle_sql() is
    called, so a harness that builds all oracles before running any
    query sees the fallback chain, not the per-query sf. Both real
    harnesses are safe — the driver compares at sf0.01 (= the
    default), and tests/driver_mirror.py exports TDS_ORACLE_SF_DIR for
    the sf it drives. A new harness comparing at another sf must do
    one of those two things."""
    env = os.environ.get("TDS_ORACLE_SF_DIR")
    if env:
        return env
    if _LAST_SF_DIR:
        return _LAST_SF_DIR[0]
    return "/root/testdata/sf0.01"


# ===========================================================================
# KG fixture queries (SURVEY.md §2 operators)
# ===========================================================================

def _o_cells():
    _, _, gold = _fixture()
    return (
        'SELECT table_id, r AS "row", c AS col, cell FROM '
        + _values(gold.cells, "table_id, r, c, cell")
    )


@q("kg_cells_parse", _o_cells)
def kg_cells_parse(spark, sf_dir):
    """S1: CSV artifact scan + cell explode (tabular2rdf.py:177-239)."""
    cells = _pipeline(spark).stages["cells"]
    return cells.where(F.col("row") >= 0).select("table_id", "row", "col", "cell")


def _o_sha():
    corpus, _, _ = _fixture()
    rows = [(r, p, c) for (r, p, _cm, lang, c) in corpus.repos if lang == "csv"]
    return (
        "SELECT repo, path, sha256(content) AS content_sha FROM "
        + _values(rows, "repo, path, content")
    )


@q("kg_sha_integrity", _o_sha)
def kg_sha_integrity(spark, sf_dir):
    """Per-row content sha256 invariant (BASELINE.json input_hint) —
    computed JVM-side with sha2 at the scan."""
    dfs = _dfs(spark)
    return (
        dfs["source_repos"].where(F.col("lang") == "csv")
        .select("repo", "path", F.sha2(F.col("content"), 256).alias("content_sha"))
    )


def _o_closure():
    corpus, _, _ = _fixture()
    edges = [(c, p, 1) for c, p in corpus.edges]
    eq = [(a, b, 0) for a, b in corpus.equivalent] + [
        (b, a, 0) for a, b in corpus.equivalent
    ]
    return f"""
WITH RECURSIVE step(src, dst, depth) AS (
  SELECT * FROM {_values(edges + eq, "src, dst, depth")}
),
walk(src, dst, depth, steps) AS (
  SELECT src, dst, depth, 1 FROM step
  UNION ALL
  SELECT w.src, s.dst, w.depth + s.depth, w.steps + 1
  FROM walk w JOIN step s ON w.dst = s.src
  WHERE w.steps < 16 AND w.src <> s.dst
)
SELECT src AS class_uri, dst AS ancestor_uri,
       CAST(MIN(depth) AS INTEGER) AS depth
FROM walk WHERE src <> dst GROUP BY src, dst
"""


@q("kg_closure", _o_closure)
def kg_closure(spark, sf_dir):
    """J6/J7: transitive subsumption closure with min-depth
    (kg/endpoints.py:481-525) via self-join doubling."""
    return _pipeline(spark).stages["closure"]


def _o_redirects():
    corpus, _, _ = _fixture()
    rows = [(e.uri, e.redirect_to) for e in corpus.entities]
    return f"""
WITH idx(uri, rto) AS (SELECT * FROM {_values(rows, "uri, rto")})
SELECT a.uri,
       COALESCE(c.uri, b.uri, a.uri) AS final_uri
FROM idx a
LEFT JOIN idx b ON a.rto = b.uri
LEFT JOIN idx c ON b.rto = c.uri
"""


@q("kg_redirects", _o_redirects)
def kg_redirects(spark, sf_dir):
    """J3: bounded 2-hop redirect resolution
    (challenge_utils.py:441-453)."""
    idx = _dfs(spark)["entity_index"]
    # only advance to targets present in the index (dangling redirects
    # keep the source — the oracle's LEFT-JOIN COALESCE semantics)
    red = idx.join(
        idx.select(F.col("uri").alias("_tgt")),
        F.col("redirect_to") == F.col("_tgt"),
        "left_semi",
    ).select(F.col("uri").alias("r_src"), F.col("redirect_to").alias("r_dst"))
    out = idx.select("uri", F.col("uri").alias("final_uri"))
    for _ in range(C.REDIRECT_MAX_HOPS):
        out = (
            out.join(red, out.final_uri == red.r_src, "left")
            .select("uri", F.coalesce("r_dst", "final_uri").alias("final_uri"))
        )
    return out


def _o_candidates():
    _, ex, gold = _fixture()
    seen = set()
    rows = []
    for key in sorted(gold.candidates):
        norm = gold.mention_norm[key]
        if norm in seen:
            continue
        seen.add(norm)
        for rank, (uri, _score) in enumerate(gold.candidates[key], 1):
            rows.append((norm, uri, rank))
    return (
        "SELECT mention_norm, uri, cand_rank FROM "
        + _values(rows, "mention_norm, uri, cand_rank")
    )


@q("kg_candidates", _o_candidates)
def kg_candidates(spark, sf_dir):
    """J1+T1: mention → ranked candidate entities (exact + token-
    blocked fuzzy + redirects + windowed top-k)."""
    return (
        _pipeline(spark).stages["candidates"]
        .select("mention_norm", "uri", "cand_rank")
    )


def _o_entity_types():
    corpus, ex, _ = _fixture()
    rows = []
    for e in corpus.entities:
        ts = sorted(ex.types_for_entity(e.uri))
        rows.append((e.uri, " ".join(ts)))
    return "SELECT uri, types_str FROM " + _values(rows, "uri, types_str")


@q("kg_entity_types", _o_entity_types)
def kg_entity_types(spark, sf_dir):
    """D1-D6: the full type-enrichment cascade, ancestor-expanded."""
    return (
        _pipeline(spark).stages["entity_types"]
        .select("uri", F.concat_ws(" ", F.col("types")).alias("types_str"))
    )


def _o_wikidata_types():
    corpus, ex, _ = _fixture()
    sa = corpus.cross_sameas
    wt = [
        (s, o)
        for (s, p, o, lit) in corpus.triples
        if p == C.RDF_TYPE and o.startswith(C.WD_ONTOLOGY_NS)
    ]
    clo = sorted(
        (c, a)
        for c, ancs in ex.closure.items()
        for a in ancs
        if a.startswith(C.ONTOLOGY_NS)
    )
    avoid = ", ".join(_s(x) for x in sorted(C.AVOID_TOP_CONCEPTS))
    return f"""
WITH sa(uri, wd) AS (SELECT * FROM {_values(sa, "uri, wd")}),
wt(wd, wcls) AS (SELECT * FROM {_values(wt, "wd, wcls")}),
eq(wcls, dbo) AS (SELECT * FROM {_values(corpus.wd_equiv, "wcls, dbo")}),
clo(c, a) AS (SELECT * FROM {_values(clo, "c, a")}),
alive AS (SELECT * FROM wt WHERE wd NOT IN
          (SELECT DISTINCT wd FROM wt
           WHERE wcls = {_s(C.WD_DISAMBIGUATION_CLASS)})),
base AS (SELECT sa.uri, eq.dbo AS t FROM sa
         JOIN alive ON sa.wd = alive.wd
         JOIN eq ON alive.wcls = eq.wcls),
allx AS (SELECT uri, t FROM base
         UNION SELECT b.uri, clo.a FROM base b JOIN clo ON b.t = clo.c),
filt AS (SELECT DISTINCT uri, t FROM allx WHERE t NOT IN ({avoid}))
SELECT uri, string_agg(t, ' ' ORDER BY t) AS types_str
FROM filt GROUP BY uri
"""


@q("kg_wikidata_types", _o_wikidata_types)
def kg_wikidata_types(spark, sf_dir):
    """D4 as a GENUINE cross-KG hop over a two-namespace fixture:
    dbpedia-role entity → sameAs → wikidata-role twin → wd types
    (disambiguation kill) → equivalent dbo classes → superclass
    closure → dbo filter (matching/kg_matching.py:394-440;
    operators/cross_kg.py)."""
    from .operators.cross_kg import wikidata_strategy_types

    dfs = _dfs(spark)
    t = wikidata_strategy_types(
        dfs["cross_sameas"], dfs["kg_triples"], dfs["wd_equiv"],
        _pipeline(spark).stages["closure"],
    )
    return t.select(
        "uri", F.concat_ws(" ", F.col("types_wd")).alias("types_str")
    )


def _o_most_specific():
    corpus, ex, _ = _fixture()
    et_rows = []
    for e in corpus.entities:
        for t in sorted(ex.types_for_entity(e.uri)):
            et_rows.append((e.uri, t))
    clo_rows = [
        (c, a, d)
        for c, ancs in ex.closure.items()
        for a, d in sorted(ancs.items())
    ]
    return f"""
WITH et(uri, t) AS (SELECT * FROM {_values(et_rows, "uri, t")}),
clo(c, a, d) AS (SELECT * FROM {_values(clo_rows, "c, a, d")}),
keep AS (
  SELECT e.uri, e.t FROM et e
  WHERE e.t <> {_s(C.AGENT_CLASS)}
    AND NOT EXISTS (
      SELECT 1 FROM et e2
      JOIN clo ON clo.c = e2.t AND clo.a = e.t AND clo.d >= 1
      WHERE e2.uri = e.uri AND e2.t <> e.t
        AND e2.t <> {_s(C.AGENT_CLASS)}
    )
)
SELECT uri, string_agg(t, ' ' ORDER BY t) AS ms_types FROM keep GROUP BY uri
"""


@q("kg_most_specific", _o_most_specific)
def kg_most_specific(spark, sf_dir):
    """A2: most-specific-class reduction (challenge_utils.py:196-245)."""
    from .operators.closure import closure_to_map
    from .operators.types_cascade import make_most_specific_udf

    pipe = _pipeline(spark)
    ms_udf = make_most_specific_udf(
        closure_to_map(pipe.stages["closure"]), C.AGENT_CLASS
    )
    return (
        pipe.stages["entity_types"]
        .select("uri", ms_udf(F.col("types")).alias("ms"))
        .where(F.size("ms") > 0)
        .select("uri", F.concat_ws(" ", F.col("ms")).alias("ms_types"))
    )


def _o_cea():
    _, _, gold = _fixture()
    return (
        'SELECT table_id, c AS col, r AS "row", uri FROM '
        + _values(gold.cea, "table_id, c, r, uri")
    )


@q("kg_cea", _o_cea)
def kg_cea(spark, sf_dir):
    """EP2/D-cascade: final cell-entity annotations."""
    return _pipeline(spark).stages["cea"].select("table_id", "col", "row", "uri")


def _o_cea_multi():
    _, _, gold = _fixture()
    return (
        'SELECT table_id, c AS col, r AS "row", uris FROM '
        + _values(gold.cea_multi, "table_id, c, r, uris")
    )


@q("kg_cea_multi", _o_cea_multi)
def kg_cea_multi(spark, sf_dir):
    """Multi-entity CEA: space-joined URI sets for phase-2 score ties
    within CEA_TIE_EPS (reference multi-URI CEA cells,
    challenge_utils.py:336-346,682-707)."""
    from .operators.annotate import cea_multi

    pipe = _pipeline(spark)
    return cea_multi(
        pipe.stages["cells_m"], pipe.stages["candidates"],
        pipe.stages["entity_types"],
    )


def _o_cta():
    _, _, gold = _fixture()
    return (
        "SELECT table_id, c AS col, cls, ancestors FROM "
        + _values(gold.cta, "table_id, c, cls, ancestors")
    )


@q("kg_cta", _o_cta)
def kg_cta(spark, sf_dir):
    """A2-A5: column-type annotation + ancestor expansion."""
    return _pipeline(spark).stages["cta"].select("table_id", "col", "cls", "ancestors")


def _o_cta_votes():
    _, ex, gold = _fixture()
    # independent SQL vote: explode gold CEA through oracle
    # most-specific type sets, count per (table, col, type)
    ms_rows = []
    seen = set()
    for (_tid, _c, _r), uri in [
        ((t, c, r), u) for (t, c, r, u) in gold.cea
    ]:
        if uri in seen:
            continue
        seen.add(uri)
        for t in sorted(ex.most_specific(ex.types_for_entity(uri))):
            ms_rows.append((uri, t))
    cea_rows = [(t, c, r, u) for (t, c, r, u) in gold.cea]
    return f"""
WITH cea(table_id, c, r, uri) AS (SELECT * FROM {_values(cea_rows, "table_id, c, r, uri")}),
ms(uri, t) AS (SELECT * FROM {_values(ms_rows, "uri, t")})
SELECT cea.table_id, cea.c AS col, ms.t AS cls, COUNT(*) AS votes
FROM cea JOIN ms ON cea.uri = ms.uri
GROUP BY 1, 2, 3
"""


@q("kg_cta_votes", _o_cta_votes)
def kg_cta_votes(spark, sf_dir):
    """A3: raw type-vote counts per column (challenge_utils.py:121-126)
    — verified against an independent SQL GROUP BY."""
    from .operators.closure import closure_to_map
    from .operators.types_cascade import make_most_specific_udf

    pipe = _pipeline(spark)
    ms_udf = make_most_specific_udf(
        closure_to_map(pipe.stages["closure"]), C.AGENT_CLASS
    )
    ms = pipe.stages["entity_types"].select(
        "uri", F.explode(ms_udf(F.col("types"))).alias("cls")
    )
    return (
        pipe.stages["cea"].join(ms, "uri")
        .groupBy("table_id", "col", "cls")
        .agg(F.count(F.lit(1)).alias("votes"))
    )


def _o_cpa():
    _, _, gold = _fixture()
    return (
        "SELECT table_id, cs AS col_subj, co AS col_obj, pred FROM "
        + _values(gold.cpa, "table_id, cs, co, pred")
    )


@q("kg_cpa", _o_cpa)
def kg_cpa(spark, sf_dir):
    """CPA: predicate voting between entity columns."""
    return _pipeline(spark).stages["cpa"]


def _o_cpa_all_pairs():
    corpus, _, gold = _fixture()
    cea_rows = [(t, c, r, u) for (t, c, r, u) in gold.cea]
    rel = [
        (s, p, o) for (s, p, o, lit) in corpus.triples
        if not lit and p != C.RDF_TYPE and p not in C.AVOID_PREDICATES
    ]
    return f"""
WITH cea(table_id, c, r, uri) AS (SELECT * FROM {_values(cea_rows, "table_id, c, r, uri")}),
rel(s, p, o) AS (SELECT * FROM {_values(rel, "s, p, o")}),
votes AS (
  SELECT a.table_id, a.c AS col_subj, b.c AS col_obj, rel.p AS pred,
         COUNT(*) AS n
  FROM cea a
  JOIN cea b ON a.table_id = b.table_id AND a.r = b.r AND a.c <> b.c
  JOIN rel ON rel.s = a.uri AND rel.o = b.uri
  GROUP BY 1, 2, 3, 4
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY table_id, col_subj, col_obj
                               ORDER BY n DESC, pred) AS rn
  FROM votes
)
SELECT table_id, col_subj, col_obj, pred, n AS votes
FROM ranked WHERE rn = 1
"""


@q("kg_cpa_all_pairs", _o_cpa_all_pairs)
def kg_cpa_all_pairs(spark, sf_dir):
    """CPA generalized to ALL ordered entity-column pairs (the
    reference only targets main-column pairs, test/mergeFiles.py:60-70;
    full-pair voting is the same operator without the J15 restriction)."""
    pipe = _pipeline(spark)
    cea_df = pipe.stages["cea"]
    a = cea_df.select("table_id", "row", F.col("col").alias("col_subj"),
                      F.col("uri").alias("s_uri"))
    b = cea_df.select("table_id", "row", F.col("col").alias("col_obj"),
                      F.col("uri").alias("o_uri"))
    rel = _dfs(spark)["kg_triples"].where(
        (~F.col("obj_is_literal"))
        & (F.col("pred") != C.RDF_TYPE)
        & ~F.col("pred").isin(*sorted(C.AVOID_PREDICATES))
    ).select(F.col("subj").alias("s_uri"), "pred", F.col("obj").alias("o_uri"))
    votes = (
        a.join(b, ["table_id", "row"])
        .where(F.col("col_subj") != F.col("col_obj"))
        .join(rel, ["s_uri", "o_uri"])
        .groupBy("table_id", "col_subj", "col_obj", "pred")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("table_id", "col_subj", "col_obj").orderBy(
        F.desc("votes"), F.asc("pred")
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("table_id", "col_subj", "col_obj", "pred", "votes")
    )


def _o_triples():
    corpus, _, gold = _fixture()
    hdr_rows = []
    for t in corpus.tables:
        for i, h in enumerate(t.header):
            hdr_rows.append((t.table_id, i, h))
    cea_rows = [(t, c, r, u) for (t, c, r, u) in gold.cea if c == 0]
    cta_rows = [(t, cls) for (t, c, cls, _a) in gold.cta if c == 0]
    B = C.TABLE_BASE
    return f"""
WITH cells(table_id, r, c, cell) AS (SELECT * FROM {_values(gold.cells, "table_id, r, c, cell")}),
hdr(table_id, c, header) AS (SELECT * FROM {_values(hdr_rows, "table_id, c, header")}),
cea(table_id, c, r, uri) AS (SELECT * FROM {_values(cea_rows, "table_id, c, r, uri")}),
cta(table_id, cls) AS (SELECT * FROM {_values(cta_rows, "table_id, cls")}),
rows_present AS (
  SELECT table_id, r, MAX(CASE WHEN c = 0 THEN cell END) AS main_cell
  FROM cells GROUP BY table_id, r HAVING MAX(length(cell)) > 0
),
base AS (
  SELECT {_s(B)} || table_id || '-col-' || c AS subj,
         {_s(C.RDF_TYPE)} AS pred, {_s(C.OWL_DATATYPE_PROPERTY)} AS obj,
         FALSE AS obj_is_literal
  FROM hdr
  UNION ALL
  SELECT {_s(B)} || table_id || '-col-' || c, {_s(C.RDFS_LABEL)}, header, TRUE
  FROM hdr
  UNION ALL
  SELECT {_s(B)} || table_id || '-col-0-row-' || r, {_s(C.RDF_TYPE)},
         {_s(C.OWL_NAMED_INDIVIDUAL)}, FALSE FROM rows_present
  UNION ALL
  SELECT {_s(B)} || table_id || '-col-0-row-' || r, {_s(C.RDFS_LABEL)},
         main_cell, TRUE FROM rows_present WHERE length(main_cell) > 0
  UNION ALL
  SELECT {_s(B)} || table_id || '-col-0-row-' || r, {_s(C.ANN_TABLE)},
         table_id, TRUE FROM rows_present
  UNION ALL
  SELECT {_s(B)} || table_id || '-col-0-row-' || r, {_s(C.ANN_COLUMN)},
         '0', TRUE FROM rows_present
  UNION ALL
  SELECT {_s(B)} || table_id || '-col-0-row-' || r, {_s(C.ANN_ROW)},
         CAST(r AS VARCHAR), TRUE FROM rows_present
  UNION ALL
  SELECT {_s(B)} || table_id || '-col-0-row-' || r,
         {_s(B)} || table_id || '-col-' || c, cell, TRUE
  FROM cells WHERE c > 0 AND length(cell) > 0
  UNION ALL
  SELECT {_s(B)} || table_id || '-col-0-row-' || r, {_s(C.OWL_SAMEAS)},
         uri, FALSE FROM cea
  UNION ALL
  SELECT {_s(B)} || rp.table_id || '-col-0-row-' || rp.r, {_s(C.RDF_TYPE)},
         cta.cls, FALSE
  FROM rows_present rp JOIN cta ON rp.table_id = cta.table_id
)
SELECT DISTINCT subj, pred, obj, obj_is_literal FROM base
"""


@q("kg_triples", _o_triples)
def kg_triples(spark, sf_dir):
    """E1-E4: triple emission (tabular2rdf.py:120-172) — oracle is a
    full SQL re-implementation of the minting scheme."""
    return _pipeline(spark).stages["triples"]


def _o_property_kind():
    corpus, _, _ = _fixture()
    return f"""
WITH tr(subj, pred, obj, lit) AS (SELECT * FROM {_values(corpus.triples, "subj, pred, obj, lit")})
SELECT pred,
       CAST(SUM(CASE WHEN obj LIKE 'http%' THEN 1 ELSE 0 END) AS BIGINT) AS n_uri,
       COUNT(*) AS n_total,
       (2 * SUM(CASE WHEN obj LIKE 'http%' THEN 1 ELSE 0 END) > COUNT(*)) AS is_object
FROM tr GROUP BY pred
"""


@q("kg_property_kind", _o_property_kind)
def kg_property_kind(spark, sf_dir):
    """A6: object-vs-datatype property inference — majority of values
    starting with 'http' (dbpedia_fragment.py:469-499), integer-count
    formulation so the threshold is exact."""
    tr = _dfs(spark)["kg_triples"]
    is_uri = F.when(F.col("obj").startswith("http"), 1).otherwise(0)
    return (
        tr.groupBy("pred")
        .agg(
            F.sum(is_uri).cast("long").alias("n_uri"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .withColumn("is_object", 2 * F.col("n_uri") > F.col("n_total"))
    )


def _o_pred_freq():
    corpus, _, _ = _fixture()
    return f"""
SELECT pred, COUNT(*) AS n
FROM {_values(corpus.triples, "subj, pred, obj, lit")}
GROUP BY pred
"""


@q("kg_pred_freq", _o_pred_freq)
def kg_pred_freq(spark, sf_dir):
    """A7: predicate frequency stats (validate_sampling.py:244-297)."""
    return (
        _dfs(spark)["kg_triples"].groupBy("pred").agg(F.count(F.lit(1)).alias("n"))
    )


def _o_degree_dist():
    corpus, _, _ = _fixture()
    return f"""
WITH tr(subj, pred, obj, lit) AS (
  SELECT * FROM {_values(corpus.triples, "subj, pred, obj, lit")}),
deg AS (SELECT subj, COUNT(*) AS d FROM tr GROUP BY subj)
SELECT CAST(d AS BIGINT) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_subjects
FROM deg GROUP BY d
"""


@q("kg_degree_dist", _o_degree_dist)
def kg_degree_dist(spark, sf_dir):
    """Out-degree distribution of the triple store (degree →
    subject count) — the standard KG shape/health analytic (and the
    skew census: the heavy tail here is exactly what sizes the
    hot-entity salting at emission). Two cascaded aggregations, both
    with map-side partials; the second's input is one row per
    subject, so the hottest entity is one row by then — the
    distribution query itself cannot skew."""
    tr = _dfs(spark)["kg_triples"]
    deg = tr.groupBy("subj").agg(F.count(F.lit(1)).alias("d"))
    return deg.groupBy(F.col("d").cast("long").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_subjects")
    )


def _o_neighborhood():
    corpus, _, _ = _fixture()
    avoid = ", ".join(_s(p) for p in sorted(C.AVOID_PREDICATES))
    return f"""
WITH tr(subj, pred, obj, lit) AS (SELECT * FROM {_values(corpus.triples, "subj, pred, obj, lit")}),
ranked AS (
  SELECT subj, pred, obj,
         ROW_NUMBER() OVER (PARTITION BY subj ORDER BY pred, obj) AS rn
  FROM tr WHERE pred NOT IN ({avoid})
)
SELECT subj, pred, obj FROM ranked WHERE rn <= 5
"""


@q("kg_neighborhood", _o_neighborhood)
def kg_neighborhood(spark, sf_dir):
    """J11: per-entity neighborhood triples, predicate-blocklist
    filtered, capped per entity (kg/endpoints.py:317-338 LIMIT)."""
    tr = _dfs(spark)["kg_triples"]
    w = Window.partitionBy("subj").orderBy("pred", "obj")
    return (
        tr.where(~F.col("pred").isin(*sorted(C.AVOID_PREDICATES)))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("subj", "pred", "obj")
    )


def _o_fragment():
    corpus, _, gold = _fixture()
    cea_rows = sorted({(u,) for (_t, _c, _r, u) in gold.cea})
    main_norms = sorted(
        {(n,) for (t, c, r), n in gold.mention_norm.items() if c == 0 and n}
    )
    cand_rows = []
    seen = set()
    for key in sorted(gold.candidates):
        norm = gold.mention_norm[key]
        if norm in seen:
            continue
        seen.add(norm)
        for rank, (uri, _score) in enumerate(gold.candidates[key], 1):
            cand_rows.append((norm, uri, rank))
    itype_rows = sorted(
        {
            (e.uri, t)
            for e in corpus.entities
            for t in e.types
            if t.startswith(C.ONTOLOGY_NS)
        }
    )
    cls_rows = sorted({(cls,) for (_t, _c, cls, _a) in gold.cta})
    avoid = ", ".join(_s(p) for p in sorted(C.AVOID_PREDICATES))
    TYP = _s(C.RDF_TYPE)
    return f"""
WITH tr(subj, pred, obj, lit) AS (SELECT * FROM {_values(corpus.triples, "subj, pred, obj, lit")}),
cea(uri) AS (SELECT * FROM {_values(cea_rows, "uri")}),
mains(m) AS (SELECT * FROM {_values(main_norms, "m")}),
cand(m, uri, rnk) AS (SELECT * FROM {_values(cand_rows, "m, uri, rnk")}),
itypes(uri, t) AS (SELECT * FROM {_values(itype_rows, "uri, t")}),
ctacls(cls) AS (SELECT * FROM {_values(cls_rows, "cls")}),
look AS (SELECT DISTINCT c.uri FROM mains JOIN cand c ON c.m = mains.m
         WHERE c.rnk <= 3),
named AS (SELECT uri AS subj, {TYP} AS pred,
                 {_s(C.OWL_NAMED_INDIVIDUAL)} AS obj, FALSE AS obj_is_literal
          FROM look),
ltypes AS (SELECT l.uri, {TYP}, it.t, FALSE
           FROM look l JOIN itypes it ON l.uri = it.uri),
mem0 AS (SELECT ctacls.cls, t.subj AS member,
                ROW_NUMBER() OVER (PARTITION BY ctacls.cls
                                   ORDER BY t.subj) AS rn
         FROM tr t JOIN ctacls ON t.obj = ctacls.cls
         WHERE t.pred = {TYP}),
members AS (SELECT cls, member FROM mem0 WHERE rn <= 5),
mtypes AS (SELECT member, {TYP}, cls, FALSE FROM members),
ents(uri) AS (SELECT uri FROM cea UNION SELECT uri FROM look
              UNION SELECT member FROM members),
kind AS (SELECT pred,
                (2 * SUM(CASE WHEN obj LIKE 'http%' THEN 1 ELSE 0 END)
                 > COUNT(*)) AS is_object
         FROM tr GROUP BY pred),
nb0 AS (SELECT t.subj, t.pred, t.obj,
               ROW_NUMBER() OVER (PARTITION BY t.subj
                                  ORDER BY t.pred, t.obj) AS rn
        FROM tr t JOIN ents e ON t.subj = e.uri
        WHERE t.pred NOT IN ({avoid})),
nb AS (SELECT n.subj, n.pred, n.obj, NOT k.is_object
       FROM nb0 n JOIN kind k ON n.pred = k.pred
       WHERE n.rn <= 5
         AND ((k.is_object AND n.obj LIKE {_s(C.RESOURCE_NS + "%")})
              OR NOT k.is_object)),
allt AS (SELECT * FROM named UNION ALL SELECT * FROM ltypes
         UNION ALL SELECT * FROM mtypes UNION ALL SELECT * FROM nb)
SELECT DISTINCT subj, pred, obj, obj_is_literal FROM allt
"""


@q("kg_fragment", _o_fragment)
def kg_fragment(spark, sf_dir):
    """E5: KG-fragment extraction, ALL THREE arms of
    oaei/dbpedia_fragment.py — CEA entities (172-211), per-cell lookup
    top-3 with type triples (234-302), class-instance samples
    (530-560) — plus the capped 1-hop neighborhood with
    literal-vs-object routing and the resource-namespace object filter
    (373-443, 504-528). See operators/fragment.py."""
    from .operators.fragment import fragment_full

    pipe = _pipeline(spark)
    dfs = _dfs(spark)
    return fragment_full(
        pipe.stages["cea"], pipe.stages["cells_m"],
        pipe.stages["candidates"], pipe.stages["cta"],
        dfs["entity_index"], dfs["kg_triples"],
    )


def _o_class_members():
    corpus, _, _ = _fixture()
    return f"""
WITH tr(subj, pred, obj, lit) AS (SELECT * FROM {_values(corpus.triples, "subj, pred, obj, lit")}),
ranked AS (
  SELECT obj AS class_uri, subj AS member_uri,
         ROW_NUMBER() OVER (PARTITION BY obj ORDER BY subj) AS rn
  FROM tr WHERE pred = {_s(C.RDF_TYPE)}
)
SELECT class_uri, member_uri, rn FROM ranked WHERE rn <= 5
"""


@q("kg_class_members", _o_class_members)
def kg_class_members(spark, sf_dir):
    """J12: class → member entities with a deterministic sample
    (replaces the reference's ORDER BY RAND() pagination,
    kg/endpoints.py:413-425, with a pinned ordering)."""
    tr = _dfs(spark)["kg_triples"]
    w = Window.partitionBy("class_uri").orderBy("member_uri")
    return (
        tr.where(F.col("pred") == C.RDF_TYPE)
        .select(F.col("obj").alias("class_uri"), F.col("subj").alias("member_uri"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
    )


def _o_projection():
    corpus, _, _ = _fixture()
    return f"""
WITH edges(c, p) AS (SELECT * FROM {_values(corpus.edges, "c, p")}),
eq(a, b) AS (SELECT * FROM {_values(corpus.equivalent, "a, b")}),
pm(pred, dom, rng) AS (SELECT * FROM {_values(corpus.property_meta, "pred, dom, rng")})
SELECT c AS subj, {_s(C.RDFS_SUBCLASSOF)} AS pred, p AS obj FROM edges
UNION ALL SELECT a, {_s(C.RDFS_SUBCLASSOF)}, b FROM eq
UNION ALL SELECT b, {_s(C.RDFS_SUBCLASSOF)}, a FROM eq
UNION ALL SELECT dom, pred, rng FROM pm
"""


@q("kg_onto_projection", _o_projection)
def kg_onto_projection(spark, sf_dir):
    """P1/P2/P5: ontology projection — atomic subsumptions,
    equivalence as two subsumptions, and domain×range property edges
    (ontology/ontology_projection.py:325-347,447-462; the OWL2Vec*
    projection shape)."""
    dfs = _dfs(spark)
    edges = dfs["ontology_edges"].select(
        F.col("class_uri").alias("subj"),
        F.lit(C.RDFS_SUBCLASSOF).alias("pred"),
        F.col("parent_uri").alias("obj"),
    )
    eq = dfs["ontology_equivalent"]
    eq_sub = eq.select(
        F.col("a").alias("subj"), F.lit(C.RDFS_SUBCLASSOF).alias("pred"),
        F.col("b").alias("obj"),
    ).union(
        eq.select(
            F.col("b").alias("subj"), F.lit(C.RDFS_SUBCLASSOF).alias("pred"),
            F.col("a").alias("obj"),
        )
    )
    dr = dfs["property_meta"].select(
        F.col("domain_uri").alias("subj"), F.col("pred").alias("pred"),
        F.col("range_uri").alias("obj"),
    )
    return edges.union(eq_sub).union(dr)


def _o_projection_full():
    corpus, _, _ = _fixture()
    avoid = ", ".join(_s(p) for p in sorted(C.AVOID_PREDICATES))
    meta = ", ".join(_s(m) for m in sorted(C.META_CLASSES))
    SUB = _s(C.RDFS_SUBCLASSOF)
    TYP = _s(C.RDF_TYPE)
    return f"""
WITH tr(subj, pred, obj, lit) AS (SELECT * FROM {_values(corpus.triples, "subj, pred, obj, lit")}),
edges(c, p) AS (SELECT * FROM {_values(corpus.edges, "c, p")}),
eq(a, b) AS (SELECT * FROM {_values(corpus.equivalent, "a, b")}),
pm(pred, dom, rng) AS (SELECT * FROM {_values(corpus.property_meta, "pred, dom, rng")}),
xd(pred, dom) AS (SELECT * FROM {_values(corpus.extra_domains, "pred, dom")}),
cdom(pred, dom) AS (SELECT * FROM {_values(corpus.complex_domains, "pred, dom")}),
crng(pred, rng) AS (SELECT * FROM {_values(corpus.complex_ranges, "pred, rng")}),
restr(cls, kind, pred, filler) AS (SELECT * FROM {_values(corpus.restrictions, "cls, kind, pred, filler")}),
ip(p, q) AS (SELECT * FROM {_values(corpus.inverse_props, "p, q")}),
ep(p, q) AS (SELECT * FROM {_values(corpus.equivalent_props, "p, q")}),
dpm(pred, dom) AS (SELECT * FROM {_values(corpus.data_property_meta, "pred, dom")}),
drestr(cls, pred) AS (SELECT * FROM {_values(corpus.data_restrictions, "cls, pred")}),
conj(cls, sup) AS (SELECT * FROM {_values(corpus.conjunct_atoms, "cls, sup")}),
crestr(cls, pred, filler) AS (SELECT * FROM {_values(corpus.complex_restrictions, "cls, pred, filler")}),
doms AS (SELECT pred, dom FROM pm UNION SELECT pred, dom FROM xd),
rngs AS (SELECT DISTINCT pred, rng FROM pm),
p5 AS (SELECT d.dom AS subj, d.pred AS pred, r.rng AS obj
       FROM doms d JOIN rngs r ON d.pred = r.pred),
p6 AS (SELECT cd.dom, cd.pred, cr.rng FROM cdom cd JOIN crng cr ON cd.pred = cr.pred),
p7 AS (SELECT cls, pred, filler FROM restr),
roles AS (SELECT subj, pred, obj FROM tr
          WHERE NOT lit AND pred <> {TYP} AND pred NOT IN ({avoid})),
td AS (SELECT * FROM p5 UNION ALL SELECT * FROM p6
       UNION ALL SELECT * FROM p7 UNION ALL SELECT * FROM roles),
ips AS (SELECT p, q FROM ip UNION SELECT q, p FROM ip),
eps AS (SELECT p, q FROM ep UNION SELECT q, p FROM ep),
p8 AS (SELECT td.obj, i.q, td.subj FROM td JOIN ips i ON td.pred = i.p),
p9 AS (SELECT td.subj, e.q, td.obj FROM td JOIN eps e ON td.pred = e.p),
tbx AS (SELECT * FROM p5 UNION ALL SELECT * FROM p7),
tbox_dom AS (SELECT t.subj, {SUB}, d.dom FROM tbx t
             JOIN doms d ON t.pred = d.pred WHERE t.subj <> d.dom),
tbox_rng AS (SELECT t.obj, {SUB}, r.rng FROM tbx t
             JOIN rngs r ON t.pred = r.pred WHERE t.obj <> r.rng),
abox_dom AS (SELECT ro.subj, {TYP}, d.dom FROM roles ro
             JOIN doms d ON ro.pred = d.pred),
abox_rng AS (SELECT ro.obj, {TYP}, r.rng FROM roles ro
             JOIN rngs r ON ro.pred = r.pred),
data_tbox AS (SELECT dr.cls, {SUB}, dm.dom FROM drestr dr
              JOIN dpm dm ON dr.pred = dm.pred WHERE dr.cls <> dm.dom),
data_abox AS (SELECT t.subj, {TYP}, dm.dom FROM tr t
              JOIN dpm dm ON t.pred = dm.pred WHERE t.lit),
p3 AS (SELECT subj, pred, obj FROM tr
       WHERE pred = {TYP} AND obj NOT IN ({meta})),
p1 AS (SELECT c AS subj, {SUB} AS pred, p AS obj FROM edges),
p2 AS (SELECT a, {SUB}, b FROM eq UNION ALL SELECT b, {SUB}, a FROM eq),
p11a AS (SELECT cls, {SUB}, sup FROM conj),
p11r AS (SELECT cls, pred, filler FROM crestr),
allt AS (
  SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM td
  UNION ALL SELECT * FROM p8 UNION ALL SELECT * FROM p9
  UNION ALL SELECT * FROM tbox_dom UNION ALL SELECT * FROM tbox_rng
  UNION ALL SELECT * FROM abox_dom UNION ALL SELECT * FROM abox_rng
  UNION ALL SELECT * FROM data_tbox UNION ALL SELECT * FROM data_abox
  UNION ALL SELECT * FROM p3
  UNION ALL SELECT * FROM p11a UNION ALL SELECT * FROM p11r
)
SELECT DISTINCT subj, pred, obj FROM allt
"""


@q("kg_onto_projection_full", _o_projection_full)
def kg_onto_projection_full(spark, sf_dir):
    """P1-P11: the FULL OWL2Vec*-style ontology projection —
    subsumptions, equivalences, rdf:type w/ meta blocklist, direct +
    complex domain/range, restrictions (RHS/LHS, all kinds), named
    inverses, equivalent properties, role assertions, structural
    domain/range propagation (TBox subsumption / ABox typing), and
    complex-axiom conjuncts (operators/projection.py; reference
    ontology/ontology_projection.py:325-933)."""
    from .operators.projection import ontology_projection_full

    return ontology_projection_full(_dfs(spark))


def _o_label_index():
    _, ex, _ = _fixture()
    rows = sorted(
        (uri, k) for uri, keys in ex.entity_keys.items() for k in keys
    )
    return "SELECT uri, key_norm FROM " + _values(rows, "uri, key_norm")


@q("kg_label_index", _o_label_index)
def kg_label_index(spark, sf_dir):
    """P12 + S3: the lexical label/alias index (normalized surface
    form → entity), the local replacement for the remote lookup
    services (ontology_projection.py:1420-1471 label indexing role)."""
    from .operators.candidates import build_index_keys

    return build_index_keys(_dfs(spark)["entity_index"]).select("uri", "key_norm")


def _o_labels_en():
    corpus, _, _ = _fixture()
    return f"""
SELECT class_uri, label FROM {_values(corpus.class_labels, "class_uri, label, lang")}
WHERE lang IS NULL OR lang = 'en'
"""


@q("kg_class_labels_en", _o_labels_en)
def kg_class_labels_en(spark, sf_dir):
    """F14: English-or-untagged label filter over language-tagged
    ontology labels (SPARQL langMatches(lang(?l),'en') in
    kg/endpoints.py:373-374; projection keeps language in ('en', None),
    ontology_projection.py:648-655,1460-1462)."""
    cl = _dfs(spark)["class_labels"]
    return cl.where(
        F.col("lang").isNull() | (F.col("lang") == "en")
    ).select("class_uri", "label")


def _o_sameas():
    corpus, _, _ = _fixture()
    rows = [
        (e.uri, e.redirect_to) for e in corpus.entities if e.redirect_to
    ]
    return f"""
WITH r(a, b) AS (SELECT * FROM {_values(rows, "a, b")})
SELECT a, b FROM r UNION SELECT b, a FROM r
"""


@q("kg_redirect_sameas", _o_sameas)
def kg_redirect_sameas(spark, sf_dir):
    """J4/P4: symmetric sameAs closure (1 step) over the redirect
    edges (kg/endpoints.py:530-538 UNION query; projection P4
    ontology_projection.py:392-400)."""
    idx = _dfs(spark)["entity_index"]
    r = idx.where(F.col("redirect_to").isNotNull()).select(
        F.col("uri").alias("a"), F.col("redirect_to").alias("b")
    )
    return r.union(r.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()


def _o_canonical_ids():
    corpus, _, _ = _fixture()
    # degenerate-edge policy (mirrored EXACTLY by the Spark query):
    # NULL/empty-string endpoints — on EITHER side, src included — are
    # malformed -> no edge; a self-edge (self-redirect / reflexive
    # sameAs) is a no-op identity assertion -> no edge, so a node
    # mentioned ONLY by a self-edge gets no row
    rows = [
        (e.uri, e.redirect_to)
        for e in corpus.entities
        if e.uri and e.redirect_to and e.redirect_to != e.uri
    ] + [(a, b) for a, b in corpus.cross_sameas if a and b and a != b]
    # exact reachability closure via recursive CTE, then min per node —
    # the ground-truth connected-components semantics
    return f"""
WITH RECURSIVE raw(a, b) AS (SELECT * FROM {_values(rows, "a, b")}),
e(a, b) AS (SELECT a, b FROM raw UNION SELECT b, a FROM raw),
n(u) AS (SELECT a FROM e UNION SELECT b FROM e),
reach(u, v) AS (
    SELECT u, u FROM n
    UNION
    SELECT r.u, e.b FROM reach r JOIN e ON e.a = r.v
)
SELECT u AS node, MIN(v) AS component FROM reach GROUP BY u
"""


@q("kg_canonical_ids", _o_canonical_ids)
def kg_canonical_ids(spark, sf_dir):
    """Unbounded identity canonicalization: connected components over
    redirects ∪ sameAs via alternating large-star/small-star
    (operators/components.py). Exact-closure generalization of the
    reference's bounded resolution (≤2 redirect hops,
    challenge_utils.py:441-453; one sameAs step,
    kg/endpoints.py:530-538) — the form that survives unbounded
    identity chains at 10^12-file scale."""
    from .operators.components import connected_components

    dfs = _dfs(spark)
    idx = dfs["entity_index"]
    # degenerate-edge policy (same as the oracle): NULL/empty
    # endpoints — on either side, src included — and self-edges are
    # not identity edges; a node mentioned only by a self-redirect
    # gets no canonical-id row. The src-side guard also keeps a NULL
    # uri from silently dropping the edge via the three-valued
    # `redirect_to != uri` (the oracle would have kept it) and an
    # empty-string uri from becoming the component minimum.
    edges = (
        idx.where(
            F.col("uri").isNotNull() & (F.col("uri") != "")
            & F.col("redirect_to").isNotNull()
            & (F.col("redirect_to") != "")
            & (F.col("redirect_to") != F.col("uri"))
        )
        .select(
            F.col("uri").alias("src"), F.col("redirect_to").alias("dst")
        )
        .unionByName(
            dfs["cross_sameas"]
            .where(
                F.col("uri").isNotNull() & (F.col("uri") != "")
                & F.col("wd_uri").isNotNull() & (F.col("wd_uri") != "")
                & (F.col("wd_uri") != F.col("uri"))
            )
            .select(
                F.col("uri").alias("src"), F.col("wd_uri").alias("dst")
            )
        )
    )
    return connected_components(edges)


def _o_mention_col():
    _, _, gold = _fixture()
    # independent recomputation: for each (table, normalized mention)
    # the minimum column whose cell normalizes to it (J14 semantics)
    rows = sorted(
        {
            (t, norm, c)
            for (t, c, r), norm in gold.mention_norm.items()
        }
    )
    return f"""
WITH m(table_id, mention_norm, c) AS (SELECT * FROM {_values(rows, "table_id, mention_norm, c")})
SELECT table_id, mention_norm, MIN(c) AS col
FROM m GROUP BY table_id, mention_norm
"""


@q("kg_mention_to_col", _o_mention_col)
def kg_mention_to_col(spark, sf_dir):
    """J14: mention → column id — first column whose (normalized)
    cell equals the mention (challenge_utils.py:647-677, the GT
    repair join of test/error_detection.py:165-212)."""
    pipe = _pipeline(spark)
    from .functions.normalize import make_normalize_udf, prenorm_expr

    cells = pipe.stages["cells"].where(F.col("row") >= 0)
    norm = make_normalize_udf()
    # JVM prenorm + groupBy first; the Python accent-strip then runs
    # only on the (table, distinct-prenorm) groups, then re-group in
    # case two prenorms collapse to one norm
    return (
        cells.withColumn("p", prenorm_expr(F.col("cell")))
        .where(F.col("p") != "")
        .groupBy("table_id", "p")
        .agg(F.min("col").alias("col"))
        .withColumn("mention_norm", norm(F.col("p")))
        .groupBy("table_id", "mention_norm")
        .agg(F.min("col").alias("col"))
    )


def _o_closure_stats():
    return f"""
WITH w AS ({_o_closure()})
SELECT class_uri,
       COUNT(*) AS n_ancestors,
       CAST(MAX(depth) AS INTEGER) AS max_depth,
       CAST(MIN(depth) AS INTEGER) AS min_depth
FROM w WHERE ancestor_uri LIKE {_s(C.ONTOLOGY_NS + "%")}
GROUP BY class_uri
"""


@q("kg_closure_stats", _o_closure_stats)
def kg_closure_stats(spark, sf_dir):
    """A8: distance-map statistics per class — ancestor counts and
    depth extrema (sem_tab/CTA_Wikidata_Statistic.py:3-27 role)."""
    clo = _pipeline(spark).stages["closure"]
    return (
        clo.where(F.col("ancestor_uri").startswith(C.ONTOLOGY_NS))
        .groupBy("class_uri")
        .agg(
            F.count(F.lit(1)).alias("n_ancestors"),
            F.max("depth").alias("max_depth"),
            F.min("depth").alias("min_depth"),
        )
    )


def _o_entity_sample():
    corpus, _, _ = _fixture()
    from .functions.xxh64 import spark_xxhash64

    rows = [(e.uri, spark_xxhash64(e.uri, (42, "int"))) for e in corpus.entities]
    return f"""
SELECT uri FROM {_values(rows, "uri, h")}
ORDER BY h, uri LIMIT 25
"""


@q("kg_entity_sample", _o_entity_sample)
def kg_entity_sample(spark, sf_dir):
    """T3: deterministic entity sampling — ORDER BY xxhash64(uri, seed)
    replaces the reference's ORDER BY RAND() (kg/endpoints.py:416,423).
    Oracle: an independent pure-Python XXH64 (functions/xxh64.py,
    JVM-equality unit-tested) embedded as a VALUES CTE."""
    idx = _dfs(spark)["entity_index"]
    return (
        idx.select("uri", F.xxhash64(F.col("uri"), F.lit(42)).alias("h"))
        .orderBy("h", "uri")
        .limit(25)
        .select("uri")
    )


# ===========================================================================
# relational operators over the driver's testdata (TPC-H-ish)
# ===========================================================================

@q(
    "pricing_summary",
    lambda: """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
)
def pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary — exercises map-side partial
    aggregation; decimal accumulation for cross-engine exactness."""
    li = _load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
        ).cast("double").alias("sum_disc_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


@q(
    "top_orders_per_customer",
    lambda: """
SELECT o_custkey, o_orderkey, rnk FROM (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 3
""",
)
def top_orders_per_customer(spark, sf_dir):
    """T1-style top-k per group (window)."""
    o = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


@q(
    "priority_vote_per_customer",
    lambda: """
SELECT o_custkey, o_orderpriority, votes FROM (
  SELECT o_custkey, o_orderpriority, COUNT(*) AS votes,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
  FROM orders GROUP BY o_custkey, o_orderpriority
) WHERE rn = 1
""",
)
def priority_vote_per_customer(spark, sf_dir):
    """A3/A4 voting+argmax semantics on testdata: most frequent order
    priority per customer, pinned lexicographic tie-break.

    r6: the per-customer ``row_number`` window (full sort of the vote
    table) is replaced by a hash-aggregate argmax —
    ``min(struct(-votes, priority, votes))`` picks exactly the
    (votes DESC, priority ASC) winner with map-side partial
    aggregation and no sort; both aggregations share one exchange on
    o_custkey (the second groupBy is a subset of the first's keys).
    Same rows: the struct order is total per customer (priority is a
    group key), and negating a BIGINT count is exact."""
    o = _load(spark, sf_dir, "orders")
    votes = o.groupBy("o_custkey", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("votes")
    )
    win = F.min(
        F.struct(
            (-F.col("votes")).alias("nv"),
            F.col("o_orderpriority").alias("pr"),
            F.col("votes").alias("v"),
        )
    ).alias("w")
    return votes.groupBy("o_custkey").agg(win).select(
        "o_custkey",
        F.col("w.pr").alias("o_orderpriority"),
        F.col("w.v").alias("votes"),
    )


@q(
    "region_acctbal_rollup",
    lambda: """
SELECT r.r_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
)
def region_acctbal_rollup(spark, sf_dir):
    """Dimension joins (broadcast) + rollup."""
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    r = _load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double").alias("total_acctbal"),
        )
    )


@q(
    "order_revenue_topk",
    lambda: """
SELECT o_orderkey, revenue, rnk FROM (
  SELECT l_orderkey AS o_orderkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         ROW_NUMBER() OVER (
           ORDER BY SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) DESC,
                    l_orderkey) AS rnk
  FROM lineitem GROUP BY l_orderkey
) WHERE rnk <= 10
""",
)
def order_revenue_topk(spark, sf_dir):
    """Aggregate + global top-k with deterministic tie-break.

    r6: the global ``row_number() OVER (ORDER BY …)`` window funneled
    every aggregated order row through ONE task's sort (the
    single-task-window shape operators/topk.py exists to avoid; 1.5M
    rows at sf1, unbounded at 100 TB). ``orderBy(...).limit(10)``
    instead plans as TakeOrderedAndProject — per-partition top-10
    bounded heaps merged at the driver, no global sort, no full
    shuffle — and the rank is re-attached by a 10-row window (a
    single trivial task). Same rows, same ranks: the order is total
    (orderkey is unique within the aggregate)."""
    li = _load(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
        ).alias("rev_dec")
    )
    order = [F.desc("rev_dec"), F.asc("o_orderkey")]
    top10 = rev.orderBy(*order).limit(10)
    w = Window.orderBy(*order)
    return (
        top10.withColumn("rnk", F.row_number().over(w))
        .select(
            "o_orderkey", F.col("rev_dec").cast("double").alias("revenue"), "rnk"
        )
    )


@q(
    "events_hourly",
    lambda: """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
""",
)
def events_hourly(spark, sf_dir):
    """Tumbling-window aggregation (batch form of the Structured
    Streaming hourly rollup in streaming/events.py)."""
    e = _load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


def _ntz_epoch_us(col: str):
    """Tz-free epoch-microseconds of a TIMESTAMP_NTZ column: NTZ diff
    from a fixed naive epoch — never the session time zone (a
    unix_micros(cast) would shift by the zone offset and break oracle
    parity; see the events_sessions note and the streaming DST
    lesson, streaming/events.py). The single shared copy of the
    device for every temporal query below."""
    return F.expr(
        "timestampdiff(MICROSECOND, "
        f"cast('1970-01-01 00:00:00' as timestamp_ntz), {col})"
    ).cast("long")


@q(
    "events_rollup_daily",
    lambda: """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
""",
)
def events_rollup_daily(spark, sf_dir):
    """Hypertable-style cascaded rollup (operators/temporal.
    cascade_rollup): the daily level is aggregated FROM the hourly
    level (sum-of-counts, decimal sum-of-sums) — the oracle computes
    daily straight from raw events, so an exact match proves the
    continuous-aggregate re-aggregation cascade is lossless."""
    from .operators.temporal import cascade_rollup

    _, daily = cascade_rollup(_load(spark, sf_dir, "events"))
    return daily.select(
        "day", "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        "total_value",
    )


@q(
    "events_rollup_monthly",
    lambda: """
SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
""",
)
def events_rollup_monthly(spark, sf_dir):
    """The rollup cascade extended one level: monthly aggregated FROM
    THE DAILY level's retained decimal sums (raw → hourly → daily →
    monthly, each level re-aggregating the previous one's partials) —
    the oracle computes monthly straight from raw events, so an exact
    match proves the TWO-step re-aggregation chain lossless, not just
    one hop."""
    from .operators.temporal import cascade_rollup

    _, _, monthly = cascade_rollup(_load(spark, sf_dir, "events"),
                                   with_monthly=True)
    return monthly.select(
        "month", "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        "total_value",
    )


@q(
    "events_asof",
    lambda: """
WITH v AS (
  SELECT user_id, ts, event_id, value
  FROM events WHERE event_type = 'view' AND ts IS NOT NULL
  QUALIFY row_number() OVER (PARTITION BY user_id, ts
                             ORDER BY event_id DESC) = 1
),
p AS (SELECT event_id, user_id, ts, value
      FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
       v.event_id AS view_event_id, epoch_us(v.ts) AS view_ts_us,
       v.value AS view_value
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
""",
)
def events_asof(spark, sf_dir):
    """As-of join (operators/temporal.asof_join): each purchase with
    the most recent prior view per user — tagged union + one window
    pass (single shuffle on user_id, no per-key cross product),
    checked against DuckDB's NATIVE ASOF LEFT JOIN as the oracle."""
    from .operators.temporal import asof_join

    e = _load(spark, sf_dir, "events")
    l = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    r = e.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    j = asof_join(l, r, on="user_id", ts_col="ts",
                  payload_cols=["event_id", "value"],
                  tiebreak_col="event_id")
    return j.select(
        "event_id", "user_id",
        _ntz_epoch_us("ts").alias("ts_us"),
        "value",
        F.col("asof_event_id").alias("view_event_id"),
        _ntz_epoch_us("asof_ts").alias("view_ts_us"),
        F.col("asof_value").alias("view_value"),
    )


@q(
    "events_asof_hot",
    lambda: """
WITH v AS (
  SELECT user_id, ts, event_id, value
  FROM events WHERE event_type = 'view' AND ts IS NOT NULL
  QUALIFY row_number() OVER (PARTITION BY user_id, ts
                             ORDER BY event_id DESC) = 1
),
p AS (SELECT event_id, user_id, ts, value
      FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
       v.event_id AS view_event_id, epoch_us(v.ts) AS view_ts_us,
       v.value AS view_value
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
""",
)
def events_asof_hot(spark, sf_dir):
    """The SKEW-SAFE as-of join path (operators/temporal.asof_join
    with hot_threshold): hot keys are salted by a per-key time-range
    bucket so no task sorts more than ~threshold rows of one key, and
    cross-bucket matches are patched from a tiny cumulated carry
    table. threshold=16 at sf0.01 (~60-80 events/user) makes EVERY
    user hot with ~4-5 buckets, so the bucket windows, the carry
    cumulation, and the patch join all do real work — against the
    same DuckDB NATIVE ASOF LEFT JOIN oracle as events_asof (the
    device must be semantics-invisible)."""
    from .operators.temporal import asof_join

    e = _load(spark, sf_dir, "events")
    l = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    r = e.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    j = asof_join(l, r, on="user_id", ts_col="ts",
                  payload_cols=["event_id", "value"],
                  tiebreak_col="event_id", hot_threshold=16)
    return j.select(
        "event_id", "user_id",
        _ntz_epoch_us("ts").alias("ts_us"),
        "value",
        F.col("asof_event_id").alias("view_event_id"),
        _ntz_epoch_us("asof_ts").alias("view_ts_us"),
        F.col("asof_value").alias("view_value"),
    )


@q(
    "events_range_count",
    lambda: """
WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
           WHERE event_type = 'purchase' AND ts IS NOT NULL),
v AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
      WHERE event_type = 'view' AND ts IS NOT NULL)
SELECT p.event_id, p.user_id, p.ts_us,
       CAST(COUNT(v.ts_us) AS BIGINT) AS n_views,
       CAST(SUM(CAST(v.value AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_view_value
FROM p LEFT JOIN v
  ON p.user_id = v.user_id
 AND v.ts_us BETWEEN p.ts_us - 1800000000 AND p.ts_us - 1
GROUP BY 1, 2, 3
""",
)
def events_range_count(spark, sf_dir):
    """Range join (operators/temporal.range_agg): per purchase, the
    count and value-sum of the same user's views in the strictly-
    preceding 30 minutes — one range-frame window over a tagged
    union (single shuffle, no replication), vs the oracle's naive
    BETWEEN join + group-by."""
    from .operators.temporal import range_agg

    e = _load(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    ts_us = _ntz_epoch_us("ts").alias("ts_us")
    l = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", ts_us
    )
    r = e.where(F.col("event_type") == "view").select(
        "user_id", ts_us, "value"
    )
    j = range_agg(l, r, on="user_id", ord_col="ts_us",
                  lower=-1_800_000_000, upper=-1)
    return j.select(
        "event_id", "user_id", "ts_us",
        F.col("n_in_range").alias("n_views"),
        F.col("sum_in_range").alias("sum_view_value"),
    )


@q(
    "events_range_hot",
    lambda: """
WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
           WHERE event_type = 'purchase' AND ts IS NOT NULL),
v AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
      WHERE event_type = 'view' AND ts IS NOT NULL)
SELECT p.event_id, p.user_id, p.ts_us,
       CAST(COUNT(v.ts_us) AS BIGINT) AS n_views,
       CAST(SUM(CAST(v.value AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_view_value
FROM p LEFT JOIN v
  ON p.user_id = v.user_id
 AND v.ts_us BETWEEN p.ts_us - 1800000000 AND p.ts_us - 1
GROUP BY 1, 2, 3
""",
)
def events_range_hot(spark, sf_dir):
    """The SKEW-SAFE range join path (range_agg with hot_threshold):
    hot keys salted by ord-range buckets with the width floored at
    the frame width, right rows replicated into the ≤ 2 buckets their
    frame-reach covers. threshold=16 at sf0.01 makes every user hot
    with real cross-bucket replication — against the same naive
    BETWEEN-join oracle as events_range_count (the device must be
    semantics-invisible)."""
    from .operators.temporal import range_agg

    e = _load(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    ts_us = _ntz_epoch_us("ts").alias("ts_us")
    l = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", ts_us
    )
    r = e.where(F.col("event_type") == "view").select(
        "user_id", ts_us, "value"
    )
    j = range_agg(l, r, on="user_id", ord_col="ts_us",
                  lower=-1_800_000_000, upper=-1, hot_threshold=16)
    return j.select(
        "event_id", "user_id", "ts_us",
        F.col("n_in_range").alias("n_views"),
        F.col("sum_in_range").alias("sum_view_value"),
    )


@q(
    "events_sessions_native",
    lambda: """
WITH g AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT user_id,
       epoch_us(MIN(ts)) AS start_us,
       epoch_us(MAX(ts)) + 1800000000 AS end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, sid
""",
)
def events_sessions_native(spark, sf_dir):
    """Spark's NATIVE session_window aggregation (the built-in
    sessionization operator, batch form) against a gaps-and-islands
    SQL oracle. Pins Spark's exact merge rule, established
    empirically (test_session_window_boundary_semantics): the merge
    is INCLUSIVE — an event at exactly prev + gap still merges, a
    new session starts only when the gap is strictly exceeded
    (oracle: `> gap`), same convention as the custom
    events_sessions; window end = last event + gap. Epochs via the
    tz-free NTZ-diff device."""
    e = _load(spark, sf_dir, "events")
    g = (
        e.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            .alias("total_value"),
        )
    )
    return g.select(
        "user_id",
        _ntz_epoch_us("w.start").alias("start_us"),
        _ntz_epoch_us("w.end").alias("end_us"),
        F.col("n_events").cast("long").alias("n_events"),
        "total_value",
    )


@q(
    "events_sessions_hot",
    lambda: """
WITH g AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT user_id,
       epoch_us(MIN(ts)) AS start_us,
       epoch_us(MAX(ts)) + 1800000000 AS end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, sid
""",
)
def events_sessions_hot(spark, sf_dir):
    """The SKEW-SAFE sessionization path (operators/temporal.
    sessionize with hot_threshold) — the third application of the
    bucket-split device: local per-bucket sessionization, interior
    sessions final, boundary fragments chained by a tiny per-key
    second pass. threshold=16 at sf0.01 makes every user hot with
    4-5 buckets, so session fragments genuinely chain across bucket
    boundaries. Same gaps-and-islands oracle as
    events_sessions_native (the device must be semantics-invisible;
    window end = last event + gap, inclusive `> gap` merge rule)."""
    from .operators.temporal import sessionize

    e = _load(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    s = sessionize(
        e.select("user_id", _ntz_epoch_us("ts").alias("ts_us"), "value"),
        on="user_id", ord_col="ts_us", gap=1_800_000_000,
        hot_threshold=16,
    )
    return s.select(
        "user_id",
        F.col("session_start").alias("start_us"),
        (F.col("session_end") + F.lit(1_800_000_000)).alias("end_us"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("total_dec").cast("double").alias("total_value"),
    )


@q(
    "events_sessions",
    lambda: """
WITH gaps AS (
  SELECT user_id, event_id,
         CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
              OR lag(epoch_ms(ts)) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(SUM(is_start) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM gaps GROUP BY user_id
""",
)
def events_sessions(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) via window lag —
    the batch analogue of stateful streaming session windows."""
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; extract epoch-ms without going
    # through the session time zone (the driver's session may not be
    # UTC): NTZ diffs via a fixed naive epoch are tz-free
    ms = F.floor(_ntz_epoch_us("ts") / F.lit(1000)).cast("long")
    prev = F.lag(ms).over(w)
    is_start = F.when(
        prev.isNull() | ((ms - prev) > 1_800_000), 1
    ).otherwise(0)
    return (
        e.withColumn("is_start", is_start)
        .groupBy("user_id")
        .agg(
            F.sum("is_start").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ===========================================================================
# dedup / similarity / text-analysis (training-data pipeline operators)
# ===========================================================================

@q(
    "doc_dedup_exact",
    lambda: """
SELECT sha256(text) AS text_sha, COUNT(*) AS n_docs,
       MIN(doc_id) AS canonical_id
FROM documents GROUP BY sha256(text)
""",
)
def doc_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy with deterministic survivor pick."""
    from .operators.dedup import exact_dedup_groups

    return exact_dedup_groups(_load(spark, sf_dir, "documents"))


_JACCARD_ORACLE = """
WITH ws AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS i, b.doc_id AS j,
         len(list_intersect(a.words, b.words)) AS inter,
         len(a.words) + len(b.words) - len(list_intersect(a.words, b.words)) AS uni
  FROM ws a JOIN ws b ON a.doc_id < b.doc_id
)
SELECT i, j, CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni
FROM pairs WHERE inter >= {t} * uni
"""


@q("doc_jaccard_pairs", lambda: _JACCARD_ORACLE.format(t="0.95"))
def doc_jaccard_pairs(spark, sf_dir):
    """Exact word-set Jaccard near-dup pairs (threshold 0.95) via
    token inverted-index self-join; integer inter/union outputs."""
    from .operators.dedup import jaccard_pairs

    d = jaccard_pairs(_load(spark, sf_dir, "documents"), 0.95)
    return d.select(
        "i", "j", F.col("inter").cast("long").alias("inter"),
        F.col("uni").cast("long").alias("uni"),
    )


@q("doc_minhash_lsh", lambda: _JACCARD_ORACLE.format(t="0.9"))
def doc_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup detection (16 hashes, 1-row bands →
    P(miss at j≥0.9) ≤ 1e-16) + exact-Jaccard verification; output
    must equal the exact pairwise oracle."""
    from .operators.dedup import minhash_lsh_pairs

    d = minhash_lsh_pairs(
        _load(spark, sf_dir, "documents", rebalance=True),
        0.9, n_hashes=16, rows_per_band=1
    )
    return d.select(
        "i", "j", F.col("inter").cast("long").alias("inter"),
        F.col("uni").cast("long").alias("uni"),
    )


_NEARDUP_CANONICAL_ORACLE = """
WITH RECURSIVE ws AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
  FROM documents
),
p AS (
  SELECT a.doc_id AS i, b.doc_id AS j,
         len(list_intersect(a.words, b.words)) AS inter,
         len(a.words) + len(b.words) - len(list_intersect(a.words, b.words)) AS uni
  FROM ws a JOIN ws b ON a.doc_id < b.doc_id
),
pr AS (SELECT i, j FROM p WHERE inter >= 0.9 * uni),
e(a, b) AS (SELECT i, j FROM pr UNION SELECT j, i FROM pr),
n(u) AS (SELECT a FROM e),
reach(u, v) AS (
    SELECT u, u FROM n
    UNION
    SELECT r.u, e.b FROM reach r JOIN e ON e.a = r.v
),
comp AS (SELECT u AS node, MIN(v) AS component FROM reach GROUP BY u)
SELECT d.doc_id AS doc_id,
       COALESCE(c.component, d.doc_id) AS canonical_id,
       COALESCE(c.component, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""


@q("doc_neardup_canonical", lambda: _NEARDUP_CANONICAL_ORACLE)
def doc_neardup_canonical(spark, sf_dir):
    """Near-dup cluster canonicalization — the survivor-selection tail
    of a web-scale dedup pipeline: MinHash-LSH pairs (same config as
    ``doc_minhash_lsh``, exact at these parameters) → connected
    components over the pair graph (alternating large/small-star,
    operators/components.py) → every document mapped to its cluster's
    canonical id (min doc_id), singletons canonical to themselves.
    A pair list alone doesn't dedup a corpus: transitive near-dup
    chains (A~B, B~C, A̸~C) must collapse to ONE survivor, which is
    exactly the component structure. Oracle: exact Jaccard pairs +
    recursive-CTE reachability closure. The collapse-before-pair scale
    shape (identical word sets → representative star edges, LSH over
    representatives only — components provably unchanged, 33x fewer
    verified pairs at sf0.1) lives in the operator's docstring."""
    from .operators.dedup import near_dup_canonicalize

    docs = _load(spark, sf_dir, "documents", rebalance=True)
    return near_dup_canonicalize(docs, 0.9, n_hashes=16, rows_per_band=1)


@q(
    "doc_token_stats",
    lambda: """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
""",
)
def doc_token_stats(spark, sf_dir):
    from .functions.text import token_stats

    t = token_stats(_load(spark, sf_dir, "documents"))
    return t.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


@q(
    "doc_quality",
    lambda: """
WITH f AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '),
             x -> x IN ('the','a','of','to','in','and','is'))) AS n_stopwords,
         len(list_distinct(string_split(text, ' '))) AS n_distinct
  FROM documents
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_stopwords AS BIGINT) AS n_stopwords,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
       CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio
FROM f
""",
)
def doc_quality(spark, sf_dir):
    from .functions.text import quality_features

    qf = quality_features(_load(spark, sf_dir, "documents"))
    return qf.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_stopwords").cast("long").alias("n_stopwords"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "stopword_ratio", "distinct_ratio",
    )


def _o_lang_id():
    from .functions.text import LANG_MARKERS

    marker_rows = [
        (lang, m) for lang, ms in sorted(LANG_MARKERS.items()) for m in ms
    ]
    langs = sorted(LANG_MARKERS)
    return f"""
WITH markers(lang, tok) AS (SELECT * FROM {_values(marker_rows, "lang, tok")}),
langs(lang) AS (SELECT DISTINCT lang FROM markers),
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
hits AS (
  SELECT t.doc_id, m.lang, COUNT(*) AS h
  FROM toks t JOIN markers m ON t.tok = m.tok GROUP BY 1, 2
),
scored AS (
  SELECT d.doc_id, l.lang, COALESCE(h.h, 0) AS h
  FROM (SELECT DISTINCT doc_id FROM documents) d
  CROSS JOIN langs l
  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.lang = l.lang
),
ranked AS (
  SELECT doc_id, lang, h,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h DESC, lang) AS rn
  FROM scored
)
SELECT doc_id, lang AS predicted_lang, CAST(h AS BIGINT) AS marker_hits
FROM ranked WHERE rn = 1
"""


@q("doc_lang_id", _o_lang_id)
def doc_lang_id(spark, sf_dir):
    from .functions.text import lang_id

    li = lang_id(_load(spark, sf_dir, "documents"))
    return li.select(
        "doc_id", "predicted_lang",
        F.col("marker_hits").cast("long").alias("marker_hits"),
    )


@q(
    "doc_fingerprint",
    lambda: """
SELECT doc_id,
       sha256(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
FROM documents
""",
)
def doc_fingerprint(spark, sf_dir):
    from .functions.text import fingerprint

    return fingerprint(_load(spark, sf_dir, "documents"))


_COS = (
    "list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
    "(sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
    "sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)


@q(
    "emb_cosine_pairs",
    lambda: f"""
SELECT a.vec_id AS i, b.vec_id AS j
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_COS} >= 0.4
""",
)
def emb_cosine_pairs(spark, sf_dir):
    """Embedding near-dup pairs: brute-force cosine ≥ 0.4."""
    from .operators.similarity import cosine_pairs

    return cosine_pairs(_load(spark, sf_dir, "embeddings"), 0.4)


@q(
    "emb_knn",
    lambda: f"""
SELECT query_id, neighbor_id, rank FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY {_COS} DESC, b.vec_id) AS rank
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 20
) WHERE rank <= 3
""",
)
def emb_knn(spark, sf_dir):
    """Exact top-3 cosine neighbors for query ids 0..19 (ANN
    correctness baseline)."""
    from .operators.similarity import knn_bruteforce

    return knn_bruteforce(
        _load(spark, sf_dir, "embeddings", rebalance=True), list(range(20)), k=3
    )


@q(
    "emb_cosine_pairs_fast",
    lambda: f"""
SELECT a.vec_id AS i, b.vec_id AS j
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_COS} >= 0.4
""",
)
def emb_cosine_pairs_fast(spark, sf_dir):
    """Scale path for cosine near-dup pairs: broadcast normalized
    matrix + per-partition numpy GEMM (mapInPandas) — same output as
    the fold-based baseline, O(n²) flops in BLAS instead of
    interpreted expression evaluation."""
    from .operators.similarity import cosine_pairs_blocked

    return cosine_pairs_blocked(_load(spark, sf_dir, "embeddings"), 0.4)


def _o_curation():
    from .functions.text import LANG_MARKERS, STOPWORDS

    marker_rows = [
        (lang, m) for lang, ms in sorted(LANG_MARKERS.items()) for m in ms
    ]
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH markers(lang, tok) AS (SELECT * FROM {_values(marker_rows, "lang, tok")}),
langs(lang) AS (SELECT DISTINCT lang FROM markers),
canon AS (
  SELECT sha256(text) AS sha, MIN(doc_id) AS doc_id
  FROM documents GROUP BY 1
),
surv AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN canon c ON c.doc_id = d.doc_id
),
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM surv),
hits AS (
  SELECT t.doc_id, m.lang, COUNT(*) AS h
  FROM toks t JOIN markers m ON t.tok = m.tok GROUP BY 1, 2
),
scored AS (
  SELECT s.doc_id, l.lang, COALESCE(h.h, 0) AS h
  FROM (SELECT doc_id FROM surv) s
  CROSS JOIN langs l
  LEFT JOIN hits h ON h.doc_id = s.doc_id AND h.lang = l.lang
),
ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h DESC, lang) AS rn
  FROM scored
),
quality AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '),
                         x -> x IN ({stop_list}))) AS n_stop,
         len(list_distinct(string_split(text, ' '))) AS n_distinct
  FROM surv
)
SELECT r.lang AS predicted_lang,
       COUNT(*) AS n_docs,
       CAST(SUM(q.n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(q.n_distinct) AS BIGINT) AS total_distinct,
       CAST(SUM(q.n_stop) AS BIGINT) AS total_stopwords
FROM ranked r JOIN quality q USING (doc_id)
WHERE r.rn = 1 AND q.n_tokens >= 30 AND q.n_stop >= 1
GROUP BY 1
"""


@q("doc_curation", _o_curation)
def doc_curation(spark, sf_dir):
    """The composed corpus-curation funnel a training-data pipeline
    actually runs — exact dedup (sha-groupBy survivor pick) →
    language-ID → quality gate (n_tokens ≥ 30, ≥ 1 stopword) →
    per-language integral corpus stats. Every stage is one of the
    registry's oracle-checked operators; this query checks their
    COMPOSITION end-to-end. All aggregates integral, so the oracle
    hash-matches with no FP fold-order caveats. Scale shape: one
    sha shuffle (map-side partial min), codegen lang/quality
    expressions, and a 4-language final agg — no new shuffle beyond
    the dedup key."""
    from .functions.text import lang_id, quality_features

    docs = _load(spark, sf_dir, "documents", rebalance=True)
    d = docs.withColumn("text_sha", F.sha2(F.col("text"), 256))
    canon = d.groupBy("text_sha").agg(F.min("doc_id").alias("doc_id"))
    surv = d.join(canon, ["text_sha", "doc_id"], "left_semi")
    li = lang_id(surv)
    qf = quality_features(surv)
    return (
        li.join(qf, "doc_id")
        .where((F.col("n_tokens") >= 30) & (F.col("n_stopwords") >= 1))
        .groupBy("predicted_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_distinct").alias("total_distinct"),
            F.sum("n_stopwords").alias("total_stopwords"),
        )
    )


def _srp_pairs_scalar():
    """Independent recomputation of the SRP-LSH near-dup semantics
    (candidates-sharing-a-band-bucket ∩ exact cosine ≥ τ) over the
    oracle sf's embeddings: naive per-component projection loops and a
    dict-of-buckets pairing instead of the operator's GEMM +
    bucket-equi-join, with the verify cosine folded in the operator's
    exact sequential operand order. Hyperplanes re-derived from
    (n_bits, dim, seed) via the pure-Python XXH64 mirror — shared
    *parameters*, independent *computation* (the doc_simhash oracle
    precedent). Returns (sorted i<j pair list, sorted vec_id list over
    ALL rows) — shared by the pair oracle and the canonicalization
    oracle, memoized per oracle sf-dir (the O(n·n_bits·dim) projection
    loop is the most expensive scalar oracle build; the _fixture
    pattern)."""
    import duckdb

    from .operators.similarity import srp_hyperplanes

    n_bits, n_bands, tau = 128, 16, 0.4
    sf_dir = _oracle_sf_dir()
    memo_key = ("srp_pairs_scalar", sf_dir)
    if memo_key in _STATE:
        return _STATE[memo_key]
    rows = duckdb.connect().execute(
        "SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    # degenerate-vector policy, mirroring the operator exactly:
    # NULL vectors / NULL elements are dropped by valid_vectors before
    # the numpy stages (they appear in the id list but never pair);
    # zero-norm vectors ARE signed and bucketed but their cosine is
    # NULL under cosine_expr's nullif guard, so they fail the verify.
    ids = sorted(vid for vid, _ in rows)
    valid = [
        (vid, vec)
        for vid, vec in rows
        if vec is not None and all(v is not None for v in vec)
    ]
    dim = len(valid[0][1])
    H = srp_hyperplanes(n_bits, dim)
    r_bits = n_bits // n_bands
    buckets: dict[tuple[int, int], list[int]] = {}
    vecs: dict[int, list[float]] = {}
    for vid, vec in valid:
        vecs[vid] = vec
        if any(v != v for v in vec):
            # a NaN component makes every operator projection NaN and
            # NaN > 0 is False — all bits 0 (the verify cosine is NaN
            # too, so such a vector can never emit a pair)
            bits = [0] * n_bits
        else:
            # same integer quantization as the operator (similarity.py
            # signatures): ±1 hyperplanes × integer components make the
            # projection sum EXACT under any summation order, so this
            # sequential loop provably equals the operator's GEMM.
            # round() is half-to-even, matching np.rint.
            q = [round(v * 65536.0) for v in vec]
            bits = []
            for b in range(n_bits):
                acc = 0
                hb = H[b]
                for d in range(dim):
                    acc += q[d] if hb[d] > 0 else -q[d]
                bits.append(1 if acc > 0 else 0)
        for band in range(n_bands):
            key = 0
            for k in range(r_bits):
                key |= bits[band * r_bits + k] << k
            buckets.setdefault((band, key), []).append(vid)

    def cos(a, b):
        dot = naa = nbb = 0.0
        for x, y in zip(a, b):
            dot += x * y
            naa += x * x
            nbb += y * y
        denom = naa**0.5 * nbb**0.5
        # zero-norm → NULL cosine in the operator (nullif guard);
        # None here fails the >= tau comparison the same way
        return dot / denom if denom else None

    cand = set()
    for members in buckets.values():
        members.sort()
        for ii in range(len(members)):
            for jj in range(ii + 1, len(members)):
                cand.add((members[ii], members[jj]))
    out = sorted(
        (i, j)
        for i, j in cand
        if (c := cos(vecs[i], vecs[j])) is not None and c >= tau
    )
    _STATE[memo_key] = (out, ids)
    return _STATE[memo_key]


def _o_srp_neardup():
    pairs, _ = _srp_pairs_scalar()
    return f"SELECT * FROM {_values(pairs, 'i, j')}"


def _o_emb_canonical():
    """Union-find over the scalar-recomputed SRP pair graph — the
    exact component semantics (same ground truth the doc-side
    recursive-CTE oracle encodes), with canonical = min id per
    component and singletons self-canonical."""
    pairs, ids = _srp_pairs_scalar()
    parent = {v: v for v in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in pairs:
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[ri] = rj
    cmin: dict[int, int] = {}
    for v in ids:
        r = find(v)
        cmin[r] = min(cmin.get(r, v), v)
    rows = [(v, cmin[find(v)], cmin[find(v)] == v) for v in ids]
    return (
        f"SELECT * FROM {_values(rows, 'vec_id, canonical_id, is_canonical')}"
    )


@q("emb_srp_neardup", _o_srp_neardup)
def emb_srp_neardup(spark, sf_dir):
    """LSH-bucketed embedding near-dup (signed random projection) —
    the scale path beside IVF: 128-bit Rademacher-SRP signatures, 16
    band buckets, exact sequential-fold cosine verify at 0.4. The
    testdata embeddings are isotropic (max pairwise cos ≈ 0.5), so the
    oracle checks the operator's defined candidate∩verify contract
    exactly; the ≥0.996-recall near-dup regime (c ≥ 0.9) is asserted
    on a clustered synthetic in tests/test_similarity.py."""
    from .operators.similarity import srp_lsh_pairs

    return srp_lsh_pairs(_load(spark, sf_dir, "embeddings"), spark, 0.4)


@q("emb_neardup_canonical", _o_emb_canonical)
def emb_neardup_canonical(spark, sf_dir):
    """Embedding-corpus canonicalization — the survivor-selection tail
    over the SRP-LSH near-dup graph, mirroring the document family's
    ``doc_neardup_canonical``: SRP pairs (same config as
    ``emb_srp_neardup``) → connected components → every vector mapped
    to its cluster's canonical id (min vec_id), singletons
    self-canonical. Transitive cosine chains (a~b, b~c, a̸~c) collapse
    to one survivor — the pair list alone can't dedup the corpus.
    Oracle: union-find over the independently-recomputed scalar pair
    graph."""
    from .operators.similarity import srp_neardup_canonicalize

    return srp_neardup_canonicalize(
        _load(spark, sf_dir, "embeddings"), spark, 0.4
    )


# word-3-gram-shingle Jaccard oracle: shingles built in SQL exactly
# like operators/dedup.word_sets(ngram=3) incl. the partial trailing
# shingle for docs shorter than 3 tokens (chr(31) = the \x1f joiner)
_SHINGLE_JACCARD_ORACLE = """
WITH ws AS (
  SELECT doc_id, list_distinct(
           list_transform(
             generate_series(1, greatest(len(t) - 2, 1)),
             i -> array_to_string(t[i:i+2], chr(31))))
         AS words
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
pairs AS (
  SELECT a.doc_id AS i, b.doc_id AS j,
         len(list_intersect(a.words, b.words)) AS inter,
         len(a.words) + len(b.words) - len(list_intersect(a.words, b.words)) AS uni
  FROM ws a JOIN ws b ON a.doc_id < b.doc_id
)
SELECT i, j, CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni
FROM pairs WHERE inter >= {t} * uni
"""


@q("doc_minhash_lsh_shingle", lambda: _SHINGLE_JACCARD_ORACLE.format(t="0.8"))
def doc_minhash_lsh_shingle(spark, sf_dir):
    """MinHash-LSH over word 3-gram shingles — the realistic
    web-corpus configuration where similarity is sparse and banding
    prunes aggressively. 16 single-row bands (P(miss at j≥0.8) ≤
    0.2^16 ≈ 7e-12) + exact shingle-Jaccard verification ⇒ output
    equals the exact pairwise shingle-Jaccard oracle."""
    from .operators.dedup import minhash_lsh_pairs

    d = minhash_lsh_pairs(
        _load(spark, sf_dir, "documents", rebalance=True), 0.8,
        n_hashes=16, rows_per_band=1, ngram=3,
    )
    return d.select(
        "i", "j", F.col("inter").cast("long").alias("inter"),
        F.col("uni").cast("long").alias("uni"),
    )


# --- rows-only operators (no SQL-expressible oracle) -----------------------



def _o_minhash_signatures():
    # independent recomputation of the signatures with the pure-Python
    # XXH64. sf-parametric: the harness exports TDS_ORACLE_SF_DIR for
    # the sf it compares at (driver_mirror does); default is the
    # driver's correctness-gate sf (0.01). Raises if the table is
    # elsewhere → degrades to rows-only.
    import duckdb

    from .functions.xxh64 import spark_xxhash64

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    rows = []
    for doc_id, text in docs:
        toks = set((text or "").split(" "))
        sig = [
            min(spark_xxhash64(w, (i, "int")) for w in toks)
            for i in range(8)
        ]
        rows.append((doc_id, *sig))
    cols = "id, " + ", ".join(f"mh_{i}" for i in range(8))
    return f"SELECT * FROM {_values(rows, cols)}"


@q("doc_minhash_signatures", _o_minhash_signatures)
def doc_minhash_signatures(spark, sf_dir):
    """MinHash signatures, fully JVM-side (xxhash64 min-agg) — the
    signature half of the LSH dedup path. Oracle: signatures
    recomputed with the independent pure-Python XXH64
    (functions/xxh64.py) over the sf0.01 table."""
    from .operators.dedup import minhash_signatures

    return minhash_signatures(
        _load(spark, sf_dir, "documents", rebalance=True), n_hashes=8
    )


def _simhash_scalar_table():
    """Independent scalar SimHash recomputation over the oracle sf's
    documents (naive per-token bit loop — deliberately nothing like
    the vectorized segment-sum fold in operators/dedup.py). Token
    hashes come from the pure-Python XXH64 mirror of Spark's
    ``xxhash64`` (functions/xxh64.py, bit-exactness unit-tested), the
    same function the JVM side applies. Token bit rows are memoized
    (Zipf) to keep the oracle build fast."""
    import duckdb

    from .functions.xxh64 import spark_xxhash64

    sf_dir = _oracle_sf_dir()
    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    bit_memo: dict[str, list[int]] = {}

    def bits_of(tok: str) -> list[int]:
        if tok not in bit_memo:
            h = spark_xxhash64(tok) & ((1 << 64) - 1)
            bit_memo[tok] = [1 if (h >> i) & 1 else -1 for i in range(64)]
        return bit_memo[tok]

    import re

    rows = []
    for doc_id, text in docs:
        # EXACT mirror of the operator's tokenizer: Spark splits on
        # Java-regex \s+ ([ \t\n\x0B\f\r] without UNICODE_CHARACTER_
        # CLASS) and filters empties. Python str.split() is NOT that
        # class (it also splits U+00A0, U+0085, U+2000-200A, ...), so
        # spell the Java class out.
        toks = [
            t for t in re.split(r"[ \t\n\x0b\f\r]+", text or "") if t
        ]
        if not toks:
            rows.append((doc_id, 0))
            continue
        counts = [0] * 64
        for tok in toks:
            tb = bits_of(tok)
            for i in range(64):
                counts[i] += tb[i]
        v = 0
        for i in range(64):
            if counts[i] >= 0:
                v |= 1 << i
        rows.append((doc_id, v - (1 << 64) if v >= (1 << 63) else v))
    return rows


def _o_simhash():
    return (
        "SELECT id, CAST(simhash AS BIGINT) AS simhash FROM "
        + _values(_simhash_scalar_table(), "id, simhash")
    )


def _o_simhash_pairs():
    return f"""
WITH s AS (SELECT id, CAST(simhash AS BIGINT) AS simhash
           FROM {_values(_simhash_scalar_table(), "id, simhash")})
SELECT a.id AS i, b.id AS j,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM s a JOIN s b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@q("doc_simhash", _o_simhash)
def doc_simhash(spark, sf_dir):
    """64-bit SimHash fingerprints (numpy pandas UDF). Oracle:
    independent scalar recomputation (VALUES table) — closes the r02
    no_oracle row."""
    from .operators.dedup import simhash64

    return simhash64(_load(spark, sf_dir, "documents"))


@q("doc_simhash_pairs", _o_simhash_pairs)
def doc_simhash_pairs(spark, sf_dir):
    """Banded Hamming LSH over SimHash (4 × 16-bit blocks, exact for
    distance ≤ 3 by pigeonhole) — SimHash as a dedup *operator*, not
    just a column. Oracle: full pairwise xor+bit_count filter over
    independently recomputed fingerprints."""
    from .operators.dedup import simhash_pairs

    return simhash_pairs(
        _load(spark, sf_dir, "documents", rebalance=True), max_hamming=3
    )


_MEDIA_META_SQL = """
WITH p AS (
  SELECT doc_id,
         CASE (((doc_id % 3) + 3) % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         octet_length(encode(text))::INT AS n_bytes,
         sha256(text) AS sha
  FROM documents
), b AS (
  SELECT *,
         ('0x' || substr(sha, 1, 2))::INT AS b0,
         ('0x' || substr(sha, 3, 2))::INT AS b1,
         ('0x' || substr(sha, 5, 2))::INT AS b2,
         ('0x' || substr(sha, 7, 2))::INT AS b3
  FROM p
)
SELECT doc_id, media_type, n_bytes, sha,
       (64 + b0 % 192)::INT AS width,
       (64 + b1 % 192)::INT AS height,
       (CASE WHEN media_type = 'image' THEN 0
             ELSE b2 * 256 + b3 END)::INT AS duration_ms
FROM b
"""


@q("media_meta", lambda: _MEDIA_META_SQL)
def media_meta(spark, sf_dir):
    """Multimodal binary-column plumbing: synth payloads + mapInPandas
    metadata extraction (decode stubbed, see operators/multimodal.py)."""
    from .operators.multimodal import extract_media_meta, synth_media

    # synth payloads are text bytes, not real images — force the
    # deterministic stub so the query's output is environment-
    # independent (decode='auto' would NULL the dims wherever PIL
    # happens to be installed, since PIL can't open fake payloads)
    return extract_media_meta(
        synth_media(_load(spark, sf_dir, "documents", rebalance=True)),
        decode="stub"
    )


_MEDIA_RESIZE_SQL = """
WITH p AS (
  SELECT doc_id,
         CASE (((doc_id % 3) + 3) % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         text, sha256(text) AS sha
  FROM documents
), d AS (
  SELECT doc_id, media_type, text,
         (64 + ('0x' || substr(sha, 1, 2))::INT % 192)::INT AS width,
         (64 + ('0x' || substr(sha, 3, 2))::INT % 192)::INT AS height
  FROM p
), r AS (
  SELECT *,
         CASE WHEN greatest(width, height) <= 64 THEN width
              ELSE greatest((width * 64 // greatest(width, height))::INT, 1)
         END AS new_width,
         CASE WHEN greatest(width, height) <= 64 THEN height
              ELSE greatest((height * 64 // greatest(width, height))::INT, 1)
         END AS new_height
  FROM d
)
SELECT doc_id, media_type, width, height,
       new_width::INT AS new_width, new_height::INT AS new_height,
       sha256(text || '#resize#' || CAST(new_width AS VARCHAR) || 'x'
              || CAST(new_height AS VARCHAR)) AS resized_sha
FROM r
"""


@q("media_resize", lambda: _MEDIA_RESIZE_SQL)
def media_resize(spark, sf_dir):
    """Multimodal resize plumbing: integer thumbnail-fit dims + stub
    artifact sha via mapInPandas (operators/multimodal.resize_media).
    decode='stub' for environment-independence (see media_meta)."""
    from .operators.multimodal import resize_media, synth_media

    return resize_media(
        synth_media(_load(spark, sf_dir, "documents")),
        target=64, decode="stub",
    )


_MEDIA_FRAMES_SQL = """
WITH p AS (
  SELECT doc_id, text, sha256(text) AS sha
  FROM documents
  WHERE ((doc_id % 3) + 3) % 3 = 2
), v AS (
  SELECT doc_id, text,
         ('0x' || substr(sha, 5, 2))::INT * 256
           + ('0x' || substr(sha, 7, 2))::INT AS duration_ms
  FROM p
)
SELECT doc_id,
       unnest(range(0, LEAST(8, duration_ms // 1000 + 1)))::INT
         AS frame_idx,
       (unnest(range(0, LEAST(8, duration_ms // 1000 + 1))) * 1000)::INT
         AS ts_ms,
       sha256(text || '#frame#'
              || CAST(unnest(range(0, LEAST(8, duration_ms // 1000 + 1)))
                      AS VARCHAR)) AS frame_sha
FROM v
"""


@q("media_frames", lambda: _MEDIA_FRAMES_SQL)
def media_frames(spark, sf_dir):
    """Video frame sampling: JVM-side duration decode + frame-index
    explode, Arrow-batched per-frame stub extraction
    (operators/multimodal.sample_frames)."""
    from .operators.multimodal import sample_frames, synth_media

    return sample_frames(
        synth_media(_load(spark, sf_dir, "documents")),
        interval_ms=1000, max_frames=8,
    )


_TOKEN_BPE_SQL = """
WITH a AS (
  SELECT doc_id,
         text || ' doc-' || CAST(doc_id AS VARCHAR) || '.v1!' AS t
  FROM documents
), tk AS (
  SELECT doc_id,
         regexp_extract_all(t, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]') AS toks
  FROM a
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_bpe,
       CAST(len(list_filter(toks, x -> regexp_matches(x, '^[A-Za-z]')))
            AS BIGINT) AS n_alpha,
       CAST(len(list_filter(toks, x -> regexp_matches(x, '^[0-9]')))
            AS BIGINT) AS n_num,
       CAST(len(list_filter(toks, x -> regexp_matches(x, '^[^A-Za-z0-9]')))
            AS BIGINT) AS n_mark
FROM tk
"""


@q("doc_token_bpe", lambda: _TOKEN_BPE_SQL)
def doc_token_bpe(spark, sf_dir):
    """BPE-ish regex token counting (functions/text.token_stats_bpe).
    The fixture corpus is pure lowercase words, so the text is
    deterministically augmented with a per-doc ' doc-<id>.v1!' suffix
    — digit runs and punctuation marks the tokenizer must segment —
    to make the counts discriminating; the oracle applies the same
    augmentation."""
    from .functions.text import token_stats_bpe

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" doc-"), F.col("doc_id"), F.lit(".v1!")
        ).alias("text"),
    )
    t = token_stats_bpe(docs)
    return t.select(
        "doc_id",
        F.col("n_bpe").cast("long").alias("n_bpe"),
        F.col("n_alpha").cast("long").alias("n_alpha"),
        F.col("n_num").cast("long").alias("n_num"),
        F.col("n_mark").cast("long").alias("n_mark"),
    )


# shared n-gram CTE prefix for the curation oracles: string_split
# mirrors Spark's split(text, ' ') (single-space literal, empty
# tokens preserved); a[i:i+n-1] is DuckDB's inclusive slice = n
# tokens; array_to_string mirrors array_join
def _gram_cte(n: int, distinct: bool) -> str:
    d = "DISTINCT " if distinct else ""
    return f"""
t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
pos AS (SELECT doc_id, generate_subscripts(a, 1) AS i, a FROM t),
grams AS (
  SELECT {d}doc_id, array_to_string(a[i:i+{n - 1}], ' ') AS gram
  FROM pos WHERE i + {n - 1} <= len(a)
)"""


@q(
    "doc_hot_ngrams",
    lambda: f"""
WITH {_gram_cte(3, distinct=True)}
SELECT gram, CAST(COUNT(*) AS BIGINT) AS df
FROM grams GROUP BY 1 HAVING COUNT(*) >= 5
""",
)
def doc_hot_ngrams(spark, sf_dir):
    """Corpus boilerplate dictionary: word 3-grams in ≥5 distinct
    docs (operators/curation.hot_ngrams — array_distinct before the
    explode keeps the groupBy a plain count with map-side partials)."""
    from .operators.curation import hot_ngrams

    return hot_ngrams(_load(spark, sf_dir, "documents"), n=3, min_df=5)


@q(
    "doc_boilerplate",
    lambda: f"""
WITH {_gram_cte(3, distinct=False)},
hot AS (
  SELECT gram FROM (
    SELECT gram, COUNT(DISTINCT doc_id) AS c FROM grams GROUP BY 1
  ) WHERE c >= 5
),
per AS (
  SELECT g.doc_id, COUNT(*) AS n_hot
  FROM grams g JOIN hot h USING (gram) GROUP BY 1
),
base AS (
  SELECT doc_id,
         CASE WHEN a IS NULL THEN 0 ELSE GREATEST(len(a) - 2, 0) END AS n_grams
  FROM t
)
SELECT b.doc_id,
       CAST(b.n_grams AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_hot, 0) AS BIGINT) AS n_hot,
       CAST(COALESCE(p.n_hot, 0) AS DOUBLE) / NULLIF(b.n_grams, 0)
         AS boilerplate_ratio
FROM base b LEFT JOIN per p USING (doc_id)
""",
)
def doc_boilerplate(spark, sf_dir):
    """Per-doc share of 3-gram occurrences hitting the boilerplate
    dictionary (operators/curation.boilerplate_stats) — the CCNet-
    style template-page signal. Zero-gram docs: n_hot 0, NULL ratio."""
    from .operators.curation import boilerplate_stats

    return boilerplate_stats(
        _load(spark, sf_dir, "documents"), n=3, min_df=5
    )


@q(
    "doc_contamination",
    lambda: f"""
WITH {_gram_cte(4, distinct=True)},
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 53 = 0)
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
FROM grams g JOIN bench b USING (gram)
WHERE g.doc_id % 53 <> 0
GROUP BY 1
""",
)
def doc_contamination(spark, sf_dir):
    """Eval-set decontamination: training docs sharing a distinct
    4-gram with the deterministic benchmark split doc_id % 53 == 0
    (operators/curation.contamination; benchmark grams broadcast)."""
    from .operators.curation import contamination

    return contamination(
        _load(spark, sf_dir, "documents", rebalance=True), n=4, bench_mod=53
    ).select("doc_id", F.col("n_overlap").cast("long").alias("n_overlap"))


def _o_sample_stratified():
    # independent recomputation of the keep-hashes with the
    # pure-Python XXH64 mirror; the per-language threshold CASE runs
    # in SQL over the real documents table (same fallback-chain
    # caveat as _o_minhash_signatures)
    import duckdb

    from .functions.xxh64 import spark_xxhash64
    from .operators.curation import (
        DEFAULT_LANG_RATES, DEFAULT_RATE, SAMPLE_MOD,
    )

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    ids = con.execute(
        f"SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    # doc_id is LongType (plain-int arg → 8-byte variant); the seed
    # literal F.lit(7) is IntegerType (4-byte variant)
    rows = [(i, spark_xxhash64(i, (7, "int"))) for (i,) in ids]
    case = " ".join(
        f"WHEN '{lang}' THEN {int(rate * SAMPLE_MOD)}"
        for lang, rate in sorted(DEFAULT_LANG_RATES.items())
    )
    return f"""
WITH h AS (SELECT * FROM {_values(rows, "doc_id, hv")})
SELECT d.doc_id, d.lang
FROM documents d JOIN h USING (doc_id)
WHERE ((hv % {SAMPLE_MOD}) + {SAMPLE_MOD}) % {SAMPLE_MOD}
      < CASE d.lang {case} ELSE {int(DEFAULT_RATE * SAMPLE_MOD)} END
"""


def _o_kmv_distinct():
    # hashes recomputed with the pure-Python XXH64 mirror as a VALUES
    # CTE; the (k-1)/u_k arithmetic mirrors the operator's IEEE ops
    # (2^63 / 2^64 as exact double literals)
    import duckdb

    from .functions.xxh64 import spark_xxhash64

    k = 64
    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    ids = con.execute(
        f"SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet')"
        " WHERE doc_id IS NOT NULL"
    ).fetchall()
    rows = [(i, spark_xxhash64(i)) for (i,) in ids]
    return f"""
WITH h AS (SELECT * FROM {_values(rows, "doc_id, hv")}),
d AS (SELECT DISTINCT dd.lang, h.hv
      FROM documents dd JOIN h USING (doc_id)),
r AS (SELECT lang, hv,
             row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn
      FROM d),
g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_mins,
             MAX(hv) AS kth_min
      FROM r WHERE rn <= {k} GROUP BY lang)
SELECT lang, n_mins, kth_min,
  CASE WHEN n_mins < {k} THEN CAST(n_mins AS DOUBLE)
       ELSE CAST({k - 1} AS DOUBLE)
            / ((CAST(kth_min AS DOUBLE) + 9.223372036854775808e18)
               / 1.8446744073709551616e19) END AS est_distinct
FROM g
"""


@q("doc_kmv_distinct", _o_kmv_distinct)
def doc_kmv_distinct(spark, sf_dir):
    """KMV distinct-count sketch per language
    (operators/sketches.kmv_distinct): deterministic, mergeable,
    skew-safe (bounded_min_k two-level salted min-k) — and therefore
    exactly oracle-checkable, unlike HLL-based approx_count_distinct."""
    from .operators.sketches import kmv_distinct

    return kmv_distinct(
        _load(spark, sf_dir, "documents"), ["lang"], "doc_id", k=64
    )


@q("doc_sample_stratified", _o_sample_stratified)
def doc_sample_stratified(spark, sf_dir):
    """Deterministic per-language hash-threshold sample for mixture
    building (operators/curation.stratified_sample) — map-side only,
    no shuffle/window, the sampling shape that stays flat at 100 TB."""
    from .operators.curation import stratified_sample

    return stratified_sample(_load(spark, sf_dir, "documents"))


@q(
    "doc_repetition",
    lambda: f"""
WITH {_gram_cte(2, distinct=False)},
words AS (SELECT doc_id, unnest(a) AS w FROM t),
wc AS (SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY 1, 2),
ws AS (SELECT doc_id, SUM(c) AS n_words, MAX(c) AS max_w
       FROM wc GROUP BY 1),
gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2),
gs AS (SELECT doc_id, SUM(c) AS n_grams, COUNT(*) AS n_dist,
              MAX(c) AS max_g
       FROM gc GROUP BY 1)
SELECT t.doc_id,
       CAST(COALESCE(ws.n_words, 0) AS BIGINT) AS n_words,
       CAST(ws.max_w AS DOUBLE) / NULLIF(ws.n_words, 0)
         AS top_word_share,
       CAST(COALESCE(gs.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(gs.n_grams - gs.n_dist AS DOUBLE) / NULLIF(gs.n_grams, 0)
         AS dup_gram_ratio,
       CAST(gs.max_g AS DOUBLE) / NULLIF(gs.n_grams, 0)
         AS top_gram_share
FROM t LEFT JOIN ws USING (doc_id) LEFT JOIN gs USING (doc_id)
""",
)
def doc_repetition(spark, sf_dir):
    """Gopher-family within-document repetition signals
    (operators/curation.repetition_stats): top-word share, duplicate
    2-gram ratio, top-2-gram share — computed inside the row with
    array_sort + aggregate run-length folds, zero shuffle/explode
    (the oracle recomputes them relationally via explode+groupBy)."""
    from .operators.curation import repetition_stats

    return repetition_stats(_load(spark, sf_dir, "documents"), n=2)


def _o_pii_scrub():
    # same pattern strings as the operator (imported, not retyped);
    # || for concat so NULL text would propagate like Spark's concat
    from .operators.curation import PII_PATTERNS

    # COALESCE mirrors the operator's NULL-text policy (counts 0,
    # scrubbed NULL): DuckDB's len(regexp_extract_all(NULL,...)) is
    # NULL, Spark's coalesced size() is 0
    counts = ",\n  ".join(
        f"CAST(COALESCE(len(regexp_extract_all(text, '{pat}')), 0)"
        f" AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    scrubbed = "text"
    for _, pat, rep in PII_PATTERNS:
        scrubbed = f"regexp_replace({scrubbed}, '{pat}', '{rep}', 'g')"
    return f"""
WITH aug AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 5 = 0
            THEN ' mail user' || CAST(doc_id AS VARCHAR)
                 || '@example.com now' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' call 555-123-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                 || CAST((doc_id * 7) % 256 AS VARCHAR) || ' ok'
            ELSE '' END AS text
  FROM documents
)
SELECT doc_id, {counts}, {scrubbed} AS scrubbed FROM aug
"""


@q("doc_pii_scrub", _o_pii_scrub)
def doc_pii_scrub(spark, sf_dir):
    """PII redaction + counts (operators/curation.pii_scrub) over
    deterministically-augmented text (the fixture corpus is pure
    lowercase words, so a per-doc email / phone / IPv4 suffix is
    appended on id-modulus subsets — same augmentation in the oracle)
    — map-only codegen regexp counts + chained global replace."""
    from .operators.curation import pii_scrub

    d = _load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 5 == 0,
                F.concat(F.lit(" mail user"), did.cast("string"),
                         F.lit("@example.com now")),
            ).otherwise(F.lit("")),
            F.when(
                did % 7 == 0,
                F.concat(F.lit(" call 555-123-"),
                         (F.lit(1000) + did % 9000).cast("string")),
            ).otherwise(F.lit("")),
            F.when(
                did % 11 == 0,
                F.concat(F.lit(" from 10.0."), (did % 256).cast("string"),
                         F.lit("."), ((did * 7) % 256).cast("string"),
                         F.lit(" ok")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(aug)


@q(
    "emb_quantize",
    lambda: """
WITH m AS (
  SELECT vec_id, embedding AS v,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) AS ma
  FROM embeddings
)
SELECT vec_id,
  CASE WHEN ma IS NULL OR NOT (ma > 0 AND ma < CAST('inf' AS DOUBLE))
       THEN NULL ELSE 127.0 / ma END AS scale,
  CASE WHEN ma IS NULL OR NOT (ma > 0 AND ma < CAST('inf' AS DOUBLE))
       THEN NULL
       ELSE list_transform(
              v, x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / ma) + 0.5)
                           AS INTEGER))
       END AS qvec
FROM m
""",
)
def emb_quantize(spark, sf_dir):
    """Symmetric int8 scalar quantization of the embedding column
    (operators/similarity.quantize_int8) — the float32→int8 storage
    cut before ANN indexing; floor(x·scale + 0.5) half-up rounding so
    Spark and the RE-evaluated DuckDB oracle agree bit-for-bit."""
    from .operators.similarity import quantize_int8

    return quantize_int8(_load(spark, sf_dir, "embeddings"))


@q("emb_ivf_knn")
def emb_ivf_knn(spark, sf_dir):
    """IVF-bucketed approximate kNN (numpy GEMM in mapInPandas) —
    approximate by construction → rows-only."""
    from .operators.similarity import ivf_knn

    return ivf_knn(
        _load(spark, sf_dir, "embeddings", rebalance=True),
        spark, list(range(20)), k=3
    )


@q(
    "emb_ivf_full_probe",
    lambda: f"""
SELECT query_id, neighbor_id, rank FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY {_COS} DESC, b.vec_id) AS rank
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 20
) WHERE rank <= 3
""",
)
def emb_ivf_full_probe(spark, sf_dir):
    """IVF with n_probe = n_centroids: every query probes every cell,
    so the candidate set is the full corpus and IVF ≡ exact kNN — an
    exact oracle that still drives the whole ANN code path (seeded
    sample → distributed Lloyd → vector-carrying assignment →
    broadcast probe join → two-phase top-k). The exact-kNN DuckDB
    oracle applies verbatim (same cosine expression, same
    (cos desc, id) tie-break)."""
    from .operators.similarity import ivf_knn

    return ivf_knn(
        _load(spark, sf_dir, "embeddings"), spark, list(range(20)),
        k=3, n_centroids=8, n_probe=8,
    )


def flagship(spark: SparkSession) -> DataFrame:
    """The end-to-end KG pipeline on the fixture corpus → emitted
    canonical triples (driver smoke check)."""
    return _pipeline(spark).stages["triples"]


def oracle_sql_strings() -> dict[str, str]:
    out = {}
    for name, build in ORACLES.items():
        try:
            out[name] = build()
        except Exception:  # environment-dependent oracle (e.g. a
            pass  # pinned parquet path) — degrade to rows-only
    return out
