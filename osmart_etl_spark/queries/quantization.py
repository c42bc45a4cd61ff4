"""Product quantization (PQ) over ``embeddings`` — the compression half
of a planet-scale ANN index (IVF selects candidate lists,
``pq_encode``'s codes make the lists fit in memory: 64 float32 dims →
M subspace codes, here 4 bytes/vector vs 256).

Seeding follows ``ivf_build_assign``: deterministic seed codebooks
(the first _K vectors' sub-slices) keep the build engine-reproducible
so a DuckDB oracle can replay it exactly; Lloyd refinement would slot
in per round exactly as in ops/similarity.lloyd_refine.

Bit-determinism: squared-L2 distances are strict left-folds over
double-cast slices (Spark ``F.aggregate`` ↔ DuckDB ``list_reduce``),
argmin is a single partial-aggregated ``max(struct(-d, -seed))`` per
(vector, subspace), and the reconstruction error sums the M per-
subspace minima ROW-WISE in fixed subspace order — never through a
shuffle whose arrival order could vary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from osmart_etl_spark.caching import led_persist
from pyspark.sql import functions as F

from osmart_etl_spark.io.sources import read_table
from osmart_etl_spark.queries.base import query

_DIM = 64
_M = 4  # subspaces
_SUB = _DIM // _M  # dims per subspace
_K = 8  # codebook entries per subspace

# DuckDB strict-left-fold squared L2 between double lists.
_L2SQ = (
    "list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}),"
    " p -> (p[1] - p[2]) * (p[1] - p[2]))), (acc, x) -> acc + x)"
)


def _l2sq(a, b):
    """Spark twin of ``_L2SQ``: zip_with then left-fold — same order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


_CODE_COLS = ", ".join(
    f"MAX(CASE WHEN m = {m} THEN seed_id END) AS code_{m}" for m in range(_M)
)
_ERR_SUM = " + ".join(f"MAX(CASE WHEN m = {m} THEN d END)" for m in range(_M))


@query(
    "pq_encode",
    oracle=f"""
    WITH subs AS (SELECT UNNEST(generate_series(0, {_M - 1})) AS m),
    seeds AS (
      SELECT s.m, e.vec_id AS seed_id,
             CAST(e.embedding AS DOUBLE[])[s.m*{_SUB}+1 : s.m*{_SUB}+{_SUB}] AS s_vec
      FROM embeddings e CROSS JOIN subs s
      WHERE e.vec_id < {_K}
    ),
    scored AS (
      SELECT e.vec_id, s.m, s.seed_id,
             {_L2SQ.format(a=f"CAST(e.embedding AS DOUBLE[])[s.m*{_SUB}+1 : s.m*{_SUB}+{_SUB}]", b="s.s_vec")} AS d
      FROM embeddings e CROSS JOIN seeds s
    ),
    ranked AS (
      SELECT vec_id, m, seed_id, d,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id, m ORDER BY d ASC, seed_id ASC) AS rn
      FROM scored
    )
    SELECT vec_id, {_CODE_COLS}, {_ERR_SUM} AS recon_err
    FROM ranked WHERE rn = 1
    GROUP BY vec_id
    """,
    tags=("ext-sim", "pq"),
)
def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode: per subspace, assign each vector's slice to its
    nearest codebook entry (squared L2, ties to the lower seed id);
    emit the M codes plus the total reconstruction error.

    Scale shape: the codebook (M×K sub-vectors — always tiny, a few KB
    even at K=256) broadcasts; scoring is map-side over one corpus
    scan; the only shuffle is ONE partial-aggregated groupBy(vec_id)
    carrying M structs per vector. Nothing anywhere is
    O(|corpus|×|corpus|) — cost is |corpus| × M × K multiply-adds,
    exactly the PQ build cost on any engine.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    return _encode(spark, emb)


def _codebooks(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """(m, seed_id, s_vec): the M×K seed codebooks — always tiny."""
    vec = F.col("embedding").cast("array<double>")
    subs = spark.range(_M).select(F.col("id").cast("int").alias("m"))
    return (
        emb.filter(F.col("vec_id") < _K)
        .crossJoin(F.broadcast(subs))
        .select(
            "m",
            F.col("vec_id").alias("seed_id"),
            F.slice(vec, F.col("m") * _SUB + 1, _SUB).alias("s_vec"),
        )
    )


def _encode(
    spark: SparkSession, emb: DataFrame, targets: DataFrame | None = None
) -> DataFrame:
    """Core PQ encode: (vec_id, code_0.._{M-1}, recon_err).

    ``targets`` optionally restricts WHICH vectors get encoded (e.g.
    just the IVF candidates) while the codebooks always come from the
    full ``emb`` — encode is per-vector deterministic, so encoding a
    subset equals slicing the corpus-wide code table."""
    vec = F.col("embedding").cast("array<double>")
    seeds = _codebooks(spark, emb)
    if targets is not None:
        # The candidate set is nprobe/K of the CORPUS — fact-
        # proportional, so NO forced broadcast: AQE broadcasts the id
        # list at bench scale and graduates to a shuffle semi-join when
        # the candidate slice outgrows the build threshold (at 100 TB
        # with K=2^16 lists the slice is still ~nprobe·corpus/K rows).
        emb = emb.join(targets.select("vec_id"), "vec_id", "left_semi")
    scored = emb.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "m",
        "seed_id",
        _l2sq(F.slice(vec, F.col("m") * _SUB + 1, _SUB), F.col("s_vec")).alias("d"),
    )
    # argmin per (vec, subspace) folded into the same shuffle that
    # collects the subspaces per vector: M conditional struct-maxes.
    aggs = [
        F.max(
            F.when(
                F.col("m") == m,
                F.struct((-F.col("d")).alias("nd"), (-F.col("seed_id")).alias("ns")),
            )
        ).alias(f"b{m}")
        for m in range(_M)
    ]
    best = scored.groupBy("vec_id").agg(*aggs)
    err = F.lit(0.0)
    for m in range(_M):
        err = err + (-F.col(f"b{m}.nd"))
    return best.select(
        "vec_id",
        *[
            (-F.col(f"b{m}.ns")).cast("bigint").alias(f"code_{m}")
            for m in range(_M)
        ],
        err.alias("recon_err"),
    )


_ADC_SUM = " + ".join(
    f"MAX(CASE WHEN r.m = {m} THEN dt.dq END)" for m in range(_M)
)


@query(
    "pq_adc_topk",
    oracle=f"""
    WITH subs AS (SELECT UNNEST(generate_series(0, {_M - 1})) AS m),
    seeds AS (
      SELECT s.m, e.vec_id AS seed_id,
             CAST(e.embedding AS DOUBLE[])[s.m*{_SUB}+1 : s.m*{_SUB}+{_SUB}] AS s_vec
      FROM embeddings e CROSS JOIN subs s
      WHERE e.vec_id < {_K}
    ),
    q AS (
      SELECT s.m, CAST(e.embedding AS DOUBLE[])[s.m*{_SUB}+1 : s.m*{_SUB}+{_SUB}] AS q_vec
      FROM embeddings e CROSS JOIN subs s
      WHERE e.vec_id = 0
    ),
    dt AS (
      SELECT s.m, s.seed_id, {_L2SQ.format(a="q.q_vec", b="s.s_vec")} AS dq
      FROM seeds s JOIN q ON q.m = s.m
    ),
    scored AS (
      SELECT e.vec_id, s.m, s.seed_id,
             {_L2SQ.format(a=f"CAST(e.embedding AS DOUBLE[])[s.m*{_SUB}+1 : s.m*{_SUB}+{_SUB}]", b="s.s_vec")} AS d
      FROM embeddings e CROSS JOIN seeds s
    ),
    ranked AS (
      SELECT vec_id, m, seed_id,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id, m ORDER BY d ASC, seed_id ASC) AS rn
      FROM scored
    ),
    tot AS (
      SELECT r.vec_id, {_ADC_SUM} AS adc_dist
      FROM ranked r JOIN dt ON dt.m = r.m AND dt.seed_id = r.seed_id
      WHERE r.rn = 1
      GROUP BY r.vec_id
    )
    SELECT vec_id, adc_dist FROM tot ORDER BY adc_dist ASC, vec_id ASC LIMIT 10
    """,
    tags=("ext-sim", "pq-adc"),
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k: the query vector
    stays exact, the corpus is represented only by its PQ codes, and
    each candidate's distance is the sum of M table lookups —
    d(q) ≈ Σ_m dtable[m][code_m]. This is how a PQ index serves search:
    at 100 TB the scan reads the 4-byte code column instead of the
    256-byte vector column (64× less I/O), the M×K distance table is
    computed once per query and broadcast, and the top-k is a
    TakeOrderedAndProject (partition-local heads, never a global sort).

    The lookup join is M broadcast hash joins on the code columns (the
    dtable is M×K rows — bytes); the row-wise fixed-order sum keeps the
    total bit-deterministic for the oracle."""
    emb = read_table(spark, sf_dir, "embeddings")
    codes = _encode(spark, emb)
    vec = F.col("embedding").cast("array<double>")
    subs = spark.range(_M).select(F.col("id").cast("int").alias("m"))
    qsub = (
        emb.filter(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(subs))
        .select("m", F.slice(vec, F.col("m") * _SUB + 1, _SUB).alias("q_vec"))
    )
    dt = _codebooks(spark, emb).join(F.broadcast(qsub), "m").select(
        "m", "seed_id", _l2sq(F.col("q_vec"), F.col("s_vec")).alias("dq")
    )
    out = codes
    total = F.lit(0.0)
    for m in range(_M):
        dt_m = dt.filter(F.col("m") == m).select(
            F.col("seed_id").alias(f"code_{m}"), F.col("dq").alias(f"dq_{m}")
        )
        out = out.join(F.broadcast(dt_m), f"code_{m}")
        total = total + F.col(f"dq_{m}")
    return (
        out.select("vec_id", total.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )


_NPROBE = 2

# DuckDB strict-left-fold cosine between double lists (same fold order
# as ops/similarity.cosine — proven bit-identical by the similarity
# query family).
_DOT = (
    "list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}),"
    " p -> p[1] * p[2])), (acc, x) -> acc + x)"
)
_NORM = (
    "sqrt(list_reduce(list_prepend(0.0, list_transform({a}, x -> x * x)),"
    " (acc, x) -> acc + x))"
)


def _cos(a: str, b: str) -> str:
    return f"({_DOT.format(a=a, b=b)} / ({_NORM.format(a=a)} * {_NORM.format(a=b)}))"


@query(
    "ivfpq_search",
    oracle=f"""
    WITH subs AS (SELECT UNNEST(generate_series(0, {_M - 1})) AS m),
    full_seeds AS (
      SELECT vec_id AS seed_id, CAST(embedding AS DOUBLE[]) AS s_full
      FROM embeddings WHERE vec_id < {_K}
    ),
    q_full AS (
      SELECT CAST(embedding AS DOUBLE[]) AS q_vec FROM embeddings WHERE vec_id = 0
    ),
    qsel AS (
      SELECT seed_id FROM full_seeds, q_full
      ORDER BY {_cos("s_full", "q_vec")} DESC, seed_id ASC
      LIMIT {_NPROBE}
    ),
    assign_scored AS (
      SELECT e.vec_id, s.seed_id,
             {_cos("CAST(e.embedding AS DOUBLE[])", "s.s_full")} AS cs
      FROM embeddings e CROSS JOIN full_seeds s
    ),
    assign AS (
      SELECT vec_id, seed_id AS cluster_id
      FROM (SELECT vec_id, seed_id, cs,
              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, seed_id ASC) AS rn
            FROM assign_scored)
      WHERE rn = 1
    ),
    cand AS (
      SELECT a.vec_id, a.cluster_id FROM assign a JOIN qsel s ON a.cluster_id = s.seed_id
    ),
    pq_seeds AS (
      SELECT s.m, e.vec_id AS seed_id,
             CAST(e.embedding AS DOUBLE[])[s.m*{_SUB}+1 : s.m*{_SUB}+{_SUB}] AS s_vec
      FROM embeddings e CROSS JOIN subs s
      WHERE e.vec_id < {_K}
    ),
    qsub AS (
      SELECT s.m, CAST(e.embedding AS DOUBLE[])[s.m*{_SUB}+1 : s.m*{_SUB}+{_SUB}] AS q_vec
      FROM embeddings e CROSS JOIN subs s
      WHERE e.vec_id = 0
    ),
    dt AS (
      SELECT s.m, s.seed_id, {_L2SQ.format(a="q.q_vec", b="s.s_vec")} AS dq
      FROM pq_seeds s JOIN qsub q ON q.m = s.m
    ),
    cand_scored AS (
      SELECT e.vec_id, s.m, s.seed_id,
             {_L2SQ.format(a=f"CAST(e.embedding AS DOUBLE[])[s.m*{_SUB}+1 : s.m*{_SUB}+{_SUB}]", b="s.s_vec")} AS d
      FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id
      CROSS JOIN pq_seeds s
    ),
    cand_ranked AS (
      SELECT vec_id, m, seed_id,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id, m ORDER BY d ASC, seed_id ASC) AS rn
      FROM cand_scored
    ),
    tot AS (
      SELECT r.vec_id, {_ADC_SUM} AS adc_dist
      FROM cand_ranked r JOIN dt ON dt.m = r.m AND dt.seed_id = r.seed_id
      WHERE r.rn = 1
      GROUP BY r.vec_id
    )
    SELECT t.vec_id, c.cluster_id, t.adc_dist
    FROM tot t JOIN cand c ON t.vec_id = c.vec_id
    ORDER BY t.adc_dist ASC, t.vec_id ASC LIMIT 10
    """,
    tags=("ext-sim", "ivfpq"),
)
def ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production ANN architecture (FAISS's default at
    scale), composed from the repo's own build blocks: the coarse
    quantizer selects _NPROBE candidate lists at |seeds| cost, PQ codes
    rank ONLY those candidates via broadcast-table ADC lookups. At
    100 TB the scan cost is nprobe/K of the corpus × the 4-byte code
    column — the multiplicative combination of IVF's candidate pruning
    and PQ's payload compression. (Here the same seed family serves as
    both coarse centroids and PQ codebooks; production systems train
    them separately — residual encoding slots into ``_encode`` without
    changing any shape.)

    Shapes: seed tables and the ADC distance table broadcast; the
    assignment argmax is the ivf_build_assign partial-agg shuffle over
    candidates only; the final top-k is a TakeOrderedAndProject."""
    from osmart_etl_spark.ops.similarity import as_double_array, cosine

    emb = read_table(spark, sf_dir, "embeddings")
    full_seeds = emb.filter(F.col("vec_id") < _K).select(
        F.col("vec_id").alias("seed_id"),
        as_double_array(F.col("embedding")).alias("s_full"),
    )
    qv = emb.filter(F.col("vec_id") == 0).select(
        as_double_array(F.col("embedding")).alias("q_vec")
    )
    qsel = (
        full_seeds.crossJoin(F.broadcast(qv))
        .select("seed_id", cosine(F.col("s_full"), F.col("q_vec")).alias("qc"))
        .orderBy(F.col("qc").desc(), F.col("seed_id").asc())
        .limit(_NPROBE)
        .select("seed_id")
    )
    assign_scored = emb.crossJoin(F.broadcast(full_seeds)).select(
        "vec_id",
        "seed_id",
        cosine(as_double_array(F.col("embedding")), F.col("s_full")).alias("cs"),
    )
    assign = (
        assign_scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("cs"), (-F.col("seed_id")).alias("ns"))
            ).alias("b")
        )
        .select("vec_id", (-F.col("b.ns")).cast("bigint").alias("cluster_id"))
    )
    # Round 13 (measured per Spark stage): the cold query was ~15
    # serialized sub-second driver jobs — every broadcast build and
    # both `cand` consumers re-derived their shared lineage from the
    # scan. Persist + one eager materialization each for the two
    # multiply-referenced tiny tables (cand: candidate ids; dt: the
    # M×K=32-row ADC table) turns 6 subtree recomputations into cache
    # reads; cold wall 5.5 s → ~3 s, and run-to-run spread collapses.
    cand = assign.join(
        F.broadcast(qsel), assign.cluster_id == F.col("seed_id")
    ).select("vec_id", "cluster_id").transform(led_persist)
    cand.count()
    codes = _encode(spark, emb, targets=cand)
    vec = F.col("embedding").cast("array<double>")
    subs = spark.range(_M).select(F.col("id").cast("int").alias("m"))
    qsub = (
        emb.filter(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(subs))
        .select("m", F.slice(vec, F.col("m") * _SUB + 1, _SUB).alias("q_sub"))
    )
    dt = _codebooks(spark, emb).join(F.broadcast(qsub), "m").select(
        "m", "seed_id", _l2sq(F.col("q_sub"), F.col("s_vec")).alias("dq")
    ).transform(led_persist)
    dt.count()
    out = codes
    total = F.lit(0.0)
    for m in range(_M):
        dt_m = dt.filter(F.col("m") == m).select(
            F.col("seed_id").alias(f"code_{m}"), F.col("dq").alias(f"dq_{m}")
        )
        out = out.join(F.broadcast(dt_m), f"code_{m}")
        total = total + F.col(f"dq_{m}")
    return (
        out.select("vec_id", total.alias("adc_dist"))
        .join(cand, "vec_id")
        .select("vec_id", "cluster_id", "adc_dist")
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )


@query(
    "embedding_int8_quantize",
    oracle="""
    WITH emb AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    dims AS (
      SELECT u.i AS pos, MAX(ABS(v[u.i])) AS mx
      FROM emb, unnest(range(1, len(v) + 1)) AS u(i)
      GROUP BY u.i
    ),
    scales AS (
      SELECT list(mx ORDER BY pos) AS s FROM dims
    ),
    coded AS (
      SELECT e.vec_id, e.label,
        list_transform(list_zip(e.v, sc.s),
          p -> CAST(CASE WHEN p[2] = 0 THEN 0
                    ELSE FLOOR(p[1] / p[2] * 127.0) END AS BIGINT)) AS codes,
        list_reduce(list_prepend(0.0,
          list_transform(list_zip(e.v, sc.s),
            p -> (p[1] - (CASE WHEN p[2] = 0 THEN 0
                          ELSE FLOOR(p[1] / p[2] * 127.0) END) * p[2] / 127.0)
               * (p[1] - (CASE WHEN p[2] = 0 THEN 0
                          ELSE FLOOR(p[1] / p[2] * 127.0) END) * p[2] / 127.0))),
          (acc, x) -> acc + x) AS recon_err_sq
      FROM emb e CROSS JOIN scales sc
    )
    SELECT vec_id, label, codes, recon_err_sq FROM coded
    """,
    tags=("ext-similarity", "quantization", "int8"),
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding table — the vector-DB
    storage baseline next to PQ: per-DIMENSION symmetric scale
    s_d = max|x_d| over the corpus, code = floor(x/s*127) (floor, not
    a double->int cast: Spark truncates, DuckDB rounds — floor is the
    one portable choice, same pitfall as lsh band division), plus each
    vector's exact reconstruction error as a strict left fold.

    Shape at 100 TB: the scale vector is ONE tiny aggregate (posexplode
    -> per-dim max, order-independent, then a 1-row array) broadcast to
    a single row-local projection over the corpus — the quantization
    itself never shuffles. Output is per-vector (codes + error), so no
    cross-row double summation whose arrival order could vary.
    """
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    scales = (
        emb.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("x"))).alias("mx"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mx"))),
                lambda s: s["mx"],
            ).alias("s")
        )
    )
    joined = emb.crossJoin(F.broadcast(scales))
    code = (
        "CASE WHEN p.s = CAST(0 AS DOUBLE) THEN CAST(0 AS BIGINT) "
        "ELSE CAST(FLOOR(p.x / p.s * 127.0D) AS BIGINT) END"
    )
    codes = F.expr(
        f"transform(zip_with(v, s, (x, s) -> struct(x AS x, s AS s)), p -> {code})"
    )
    err = F.expr(
        "aggregate(zip_with(v, s, (x, s) -> struct(x AS x, s AS s)), "
        f"CAST(0 AS DOUBLE), (acc, p) -> acc + "
        f"(p.x - ({code}) * p.s / 127.0D) * (p.x - ({code}) * p.s / 127.0D))"
    )
    return joined.select(
        "vec_id",
        "label",
        codes.alias("codes"),
        err.alias("recon_err_sq"),
    )


# --------------------------------------------------------------------------
# Johnson–Lindenstrauss ±1 random projection with a distortion audit
# --------------------------------------------------------------------------

_JL_K = 16  # target dim
_JL_D = 64  # source dim
_JL_NQ = 8  # probe vectors
_JL_NC = 100  # audited corpus vectors per probe


def _jl_signs() -> list[list[int]]:
    """Deterministic ±1 matrix seeded by md5 — portable because it is
    PRECOMPUTED here and embedded as a literal in both plans."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for i in range(_JL_D)
        ]
        for j in range(_JL_K)
    ]


_JL_ROWS = _jl_signs()


def _jl_project_sql(v: str) -> str:
    comps = []
    for row in _JL_ROWS:
        lit = "[" + ", ".join(f"{s}.0" for s in row) + "]"
        comps.append(
            f"list_reduce(list_prepend(0.0, list_transform(list_zip({v}, {lit}),"
            f" p -> p[1] * p[2])), (acc, x) -> acc + x) / 4.0"
        )
    return "[" + ", ".join(comps) + "]"


_JL_SQDIST = (
    "list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}),"
    " p -> (p[1]-p[2])*(p[1]-p[2]))), (acc, x) -> acc + x)"
)


@query(
    "jl_projection_audit",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
    ),
    p AS (
      SELECT vec_id, vv, {_jl_project_sql("vv")} AS pv FROM v
      WHERE vec_id < {_JL_NQ + _JL_NC}
    ),
    pairs AS (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id,
        {_JL_SQDIST.format(a="a.pv", b="b.pv")} AS d_proj,
        {_JL_SQDIST.format(a="a.vv", b="b.vv")} AS d_orig
      FROM p a JOIN p b
        ON a.vec_id < {_JL_NQ} AND b.vec_id >= {_JL_NQ}
    )
    SELECT q_id,
      CAST(COUNT(*) AS BIGINT) AS n_pairs,
      MIN(d_proj / d_orig) AS min_ratio,
      MAX(d_proj / d_orig) AS max_ratio,
      CAST(SUM(CASE WHEN d_proj / d_orig BETWEEN 0.5 AND 2.0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_within_2x
    FROM pairs GROUP BY q_id
    """,
    tags=("ext-quant", "jl-projection", "dim-reduction"),
)
def jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss ±1 random projection (Achlioptas 2003:
    signs suffice, no Gaussians) from 64 → 16 dims, with the distortion
    contract AS DATA: for 8 probes × 100 corpus vectors, the min/max
    squared-distance ratio ||f(a)−f(b)||²/||a−b||² and the count within
    [0.5, 2.0]. The sign matrix is precomputed md5-parity and embedded
    as a LITERAL in both plans, projections are strict left folds, and
    the audited stats are order-independent (min/max/count — no
    double-sum crosses a shuffle), so the audit hash-matches bit-exact.

    Pipeline role: the dim-reduction step before ANN/clustering — at
    100 TB a 4× narrower vector column is 4× less shuffle in every
    downstream join, and this audit is the cheap per-snapshot check
    that the projection seed still preserves neighborhoods (k=16 at
    n≈100 gives loose JL guarantees; measured on this corpus 91–99% of
    pairs per probe land within [0.5, 2] with tails to ~0.30/2.2 — the
    price of k=16 — and the contract column is what a pipeline ALERTS
    on, not a theorem). Projection itself is
    zero-shuffle whole-stage codegen: 16 folds over the vector array
    per row.
    """
    from osmart_etl_spark.ops.similarity import as_double_array

    emb = read_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _JL_NQ + _JL_NC
    )
    v = as_double_array(F.col("embedding"))

    def fold_dot(vec, row):
        lit = F.array(*[F.lit(float(s)) for s in row])
        return F.aggregate(
            F.zip_with(vec, lit, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ) / F.lit(4.0)

    proj = F.array(*[fold_dot(v, row) for row in _JL_ROWS])
    p = emb.select("vec_id", v.alias("vv"), proj.alias("pv"))

    def sqdist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    a = p.filter(F.col("vec_id") < _JL_NQ).select(
        F.col("vec_id").alias("q_id"), F.col("vv").alias("va"), F.col("pv").alias("pa")
    )
    b = p.filter(F.col("vec_id") >= _JL_NQ).select(
        F.col("vec_id").alias("c_id"), F.col("vv").alias("vb"), F.col("pv").alias("pb")
    )
    ratio = sqdist(F.col("pa"), F.col("pb")) / sqdist(F.col("va"), F.col("vb"))
    return (
        a.crossJoin(b)
        .select("q_id", ratio.alias("r"))
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("r").alias("min_ratio"),
            F.max("r").alias("max_ratio"),
            F.sum(
                F.when((F.col("r") >= 0.5) & (F.col("r") <= 2.0), 1).otherwise(0)
            ).cast("bigint").alias("n_within_2x"),
        )
    )
