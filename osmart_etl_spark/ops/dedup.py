"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash with its Hamming-banded near-dup join, n-gram
Jaccard (BASELINE.json extension surface).

Scale design
------------
- **Exact**: hash-groupBy on a content fingerprint — one shuffle keyed by
  a 128-bit digest; no skew (digests are uniform).
- **MinHash+LSH**: shingle → K minhashes → B bands of R rows →
  candidate pairs join only within band buckets. The full O(n²) pair
  space is never materialized; cost is O(Σ bucket²) which LSH keeps tiny.
  This is the standard shingle→minhash→band→bucket-join pipeline
  (Broder '97 / MMDS ch.3) expressed relationally.
- **Verification**: exact n-gram Jaccard computed ONLY for LSH candidate
  pairs.
- **Portability**: all hashing goes through md5 (engine-portable,
  deterministic) rather than Spark's murmur ``hash``, so results are
  reproducible across engines and runs; minhash compares md5 hex strings
  lexicographically (uniform in the keyspace), which is rank-equivalent
  to comparing the underlying 128-bit integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from osmart_etl_spark.caching import led_persist
from pyspark.sql import functions as F

from osmart_etl_spark.ops.text import normalized_text


def shingle_array(text_col, k: int = 5):
    """Column expression: distinct character k-gram shingles of the
    normalized text, as array<string>. Always ≥1 element (short docs
    yield their whole text as the single shingle)."""
    norm = normalized_text(text_col)
    idx = F.sequence(F.lit(1), F.greatest(F.length(norm) - (k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: norm.substr(i, F.lit(k))))


def shingle_sets(df: DataFrame, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """(id, __sh array<string>) — the per-doc distinct shingle SET kept
    in array form. The array form is the scale path: every downstream
    stage (minhash, band keys, Jaccard intersect) folds over the array
    map-side instead of shuffling an exploded |doc|×|shingles| row table.
    Repartitioned first: single-file parquet = one input partition."""
    from osmart_etl_spark.io.sources import default_parallelism

    n_parts = default_parallelism(df.sparkSession)
    return df.repartition(n_parts).select(
        F.col(id_col), shingle_array(F.col(text_col), k=k).alias("__sh")
    )


#: Universal-hash family constants (a_k odd, deterministic) and prime
#: modulus for minhash — h_k(x) = (a_k·x + b_k) mod P, the textbook
#: construction (Carter-Wegman; MMDS ch.3). P < 2^31 and base hash
#: x < 2^28 keep every product below 2^63: no bigint overflow in either
#: engine (Spark wraps silently, DuckDB errors — neither is hit).
MINHASH_P = 1_000_000_007


def _minhash_seed(k: int) -> tuple[int, int]:
    return 2 * k + 1 + 104_729 * k, 12_289 * k + 31


def base_shingle_hash(col):
    """Engine-portable 28-bit base hash: first 7 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("bigint")


def minhash_band_keys(
    doc_sets: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """(id, band, band_key) computed with ZERO shuffles from the array
    form (``shingle_sets`` output).

    Exactly ONE shuffle — the groupBy(id) computing all K min-aggregates
    — and it carries only K bigints per doc after map-side partial
    aggregation (combiners take the min before anything moves). The
    explode + md5 + universal-hash expressions all sit inside
    whole-stage codegen (an interpreted higher-order fold was measured
    ~3× slower here: HOF lambdas don't codegen and box every bigint).
    Band keys come straight off the wide K-vector (ordered concat of
    each band's R minima, 4 structs exploded — 4 tiny rows/doc); the
    row path's second groupBy(id, band) + collect_list shuffle is gone.
    """
    hashed = doc_sets.select(
        F.col(id_col), F.explode("__sh").alias("__s")
    ).select(F.col(id_col), base_shingle_hash(F.col("__s")).alias("__h"))
    aggs = []
    for k in range(num_hashes):
        a, b = _minhash_seed(k)
        aggs.append(F.min((F.col("__h") * a + b) % MINHASH_P).alias(f"__mh{k}"))
    wide = hashed.groupBy(id_col).agg(*aggs)
    n_bands = num_hashes // rows_per_band
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"__mh{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return wide.select(F.col(id_col), F.explode(band_structs).alias("__b")).select(
        id_col, "__b.band", "__b.band_key"
    )


def candidate_pairs(
    band_keys: DataFrame, id_col: str, max_bucket: int | None = None
) -> DataFrame:
    """Docs sharing any band bucket → distinct (id_a < id_b) pairs.
    The join shuffles on (band, band_key) — bucket-local, never all-pairs.

    ``max_bucket`` guards the one way this still blows up: a HOT bucket
    (boilerplate-dominated corpora collapse thousands of docs into one
    band key) contributes O(bucket²) pairs, so a single million-doc
    bucket is 10¹² pairs no matter how good the banding is. Buckets
    larger than the cap are dropped BEFORE the self-join (one map-side-
    combined count + broadcast-able semi filter) — the standard LSH
    mitigation: an over-common band key carries no discriminative
    signal, and a truly near-dup pair collides in some other band with
    overwhelming probability (for 4 bands at J=0.9, P[missing all
    bands] < 0.2%even if one band is capped). Default None keeps exact
    semantics for the oracle-checked queries."""
    # Self-join: persist so the upstream signature DAG runs once, not twice.
    band_keys = band_keys.transform(led_persist)
    if max_bucket is not None:
        # the HOT set is small by construction (≤ |rows|/cap buckets), so
        # IT broadcasts and the exclusion is a map-side anti join — never
        # broadcast the keep-set, which is O(corpus)
        sizes = band_keys.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("__n")
        )
        hot = sizes.filter(F.col("__n") > max_bucket).drop("__n")
        band_keys = band_keys.join(F.broadcast(hot), ["band", "band_key"], "left_anti")
    a = band_keys.select(
        F.col("band"), F.col("band_key"), F.col(id_col).alias("id_a")
    )
    b = band_keys.select(
        F.col("band"), F.col("band_key"), F.col(id_col).alias("id_b")
    )
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    shingles: DataFrame, pairs: DataFrame, id_col: str, threshold: float = 0.5
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only.

    jaccard = |A∩B| / (|A| + |B| - |A∩B|); bigint counts, so the double
    division is bit-deterministic. Output: (id_a, id_b, jaccard)."""
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    sb = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        pairs.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a", "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_verify_hybrid(
    doc_sets: DataFrame, pairs: DataFrame, id_col: str, threshold: float = 0.5
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs — the production
    shape. |A∩B| via the codegen'd row-explode hash join (pairs side
    broadcast); |A| and |B| read straight off ``size(__sh)`` — a pure
    projection instead of a corpus-sized groupBy — and joined broadcast
    (one row per doc). Output: (id_a, id_b, jaccard).

    Scale crossover, MEASURED: this form explodes the full corpus on
    the id_b side, which is |corpus|-proportional — the right trade
    only while the corpus explode is cheaper than extra broadcast
    barriers (sf0.1: 3.9 s here vs 7.9 s for a candidate-id-pruned
    variant whose two extra broadcast exchanges + distinct dominate at
    5k docs). Past the point where corpus shingles dwarf candidate
    shingles — any real web corpus — use ``jaccard_verify_sets``,
    whose bare-id broadcast semi-join prunes the corpus BEFORE any
    explode and whose cost scales with |candidates| only."""
    sa = doc_sets.select(F.col(id_col).alias("id_a"), F.explode("__sh").alias("shingle"))
    sb = doc_sets.select(F.col(id_col).alias("id_b"), F.explode("__sh").alias("shingle"))
    # numbered repartitions on the join key: AQE sizes the (id_b,
    # shingle) sort-merge stage by shuffle bytes and coalesced the
    # ~12M-record probe to TWO tasks (measured 10 s serial at sf0.1);
    # fixed-count exchanges satisfy the join requirement, are exempt
    # from coalescing, and keep the codegen'd hash join cluster-wide.
    n_par = doc_sets.sparkSession.sparkContext.defaultParallelism * 2
    inter = (
        sa.join(F.broadcast(pairs), "id_a")
        .repartition(n_par, "id_b", "shingle")
        .join(sb.repartition(n_par, "id_b", "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = doc_sets.select(
        F.col(id_col), F.size("__sh").cast("bigint").alias("n")
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .select(
            "id_a", "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_verify_sets(
    doc_sets: DataFrame, pairs: DataFrame, id_col: str, threshold: float = 0.5
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs, array form.

    |A∩B| = size(array_intersect) over the per-doc shingle arrays.
    Scale shape: the corpus-sized doc_sets table is first semi-joined
    (broadcast of the tiny candidate-id set — ids only, never array
    payloads: broadcasting rows carrying shingle arrays OOMed the
    driver at sf0.1) down to the ≤2·|pairs| docs that appear in any
    candidate pair; every join after that touches only candidate docs,
    so verify cost scales with |candidates|, not corpus size. Compare
    the row form (``jaccard_verify``): that expands every pair to |A|
    shingle rows and shuffles them through a (id_b, shingle) join +
    groupBy. Counts are exact either way (arrays are distinct sets);
    the double division is bit-deterministic.
    Output: (id_a, id_b, jaccard)."""
    cand_ids = (
        pairs.select(F.col("id_a").alias("__cid"))
        .union(pairs.select(F.col("id_b").alias("__cid")))
        .distinct()
    )
    cd = doc_sets.join(
        F.broadcast(cand_ids), doc_sets[id_col] == F.col("__cid")
    ).drop("__cid")
    a = cd.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = cd.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b"))
    full = a.join(F.broadcast(pairs), "id_a").join(b, "id_b")
    n_inter = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("bigint")
    denom = (
        F.size("__sh_a").cast("bigint") + F.size("__sh_b").cast("bigint") - n_inter
    )
    return (
        full.select(
            "id_a", "id_b",
            (n_inter.cast("double") / denom.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_verify_bcast(
    doc_sets: DataFrame, pairs: DataFrame, id_col: str, threshold: float = 0.5
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs, ZERO-shuffle form:
    the per-doc shingle ARRAY table broadcasts whole (twice, one per
    pair side) and each pair costs one codegen array_intersect — no
    explode, no pair-keyed exchange at all.

    The right shape while |docs|·|avg set| fits a broadcast (~8 MB at
    sf0.1) AND candidates touch most of the corpus, where
    ``jaccard_verify_sets``'s id-prune is pure overhead — MEASURED at
    sf0.1 (47.9k candidates over 87% of 5k docs): hybrid explode-join
    14.2 s, sets 7.9 s, this form 1.9 s. Past broadcast limits use
    ``jaccard_verify_sets`` (same algebra, shuffle attach).
    Output: (id_a, id_b, jaccard)."""
    a = doc_sets.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sha"))
    b = doc_sets.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__shb"))
    full = pairs.join(F.broadcast(a), "id_a").join(F.broadcast(b), "id_b")
    n_inter = F.size(F.array_intersect("__sha", "__shb")).cast("bigint")
    denom = (
        F.size("__sha").cast("bigint") + F.size("__shb").cast("bigint") - n_inter
    )
    return (
        full.select(
            "id_a", "id_b",
            (n_inter.cast("double") / denom.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def choose_jaccard_verify(
    n_docs: int,
    n_corpus_shingles: int,
    n_candidate_docs: int,
    *,
    n_pairs: int | None = None,
    density_crossover: float = 0.5,
    corpus_floor: int = 10_000_000,
    degree_crossover: float = 2.0,
    bcast_budget: int = 4_000_000,
) -> str:
    """Pick the exact-verify physical shape from runtime stats (pure —
    the decision rule, unit-testable without a cluster).

    Cost model, anchored on the sf0.1 measurement (5 000 docs,
    1.02 M corpus shingles, 4 368/5 000 docs in some candidate pair =
    87 % density: hybrid 3.9 s vs sets 7.9 s):

    - ``hybrid`` explodes ALL corpus shingles AND expands the pairs
      side: its shuffled volume is ≈ |corpus shingles| (the id_b
      explode) + Σ_pairs |A| ≈ degree × |corpus shingles| where
      degree = |pairs| / |docs| — so it is Θ(corpus shingles ×
      candidate degree), the documented dense-corpus worst case that
      cut off at 25 min on the sf0.1×100 amplified run (500k docs,
      87 % near-dup density, degree ≫ 2);
    - ``sets`` first semi-joins the corpus down to candidate docs →
      exploded-shuffle-free; cost ∝ density × |corpus shingles| (the
      pruned array scan) + |pairs| codegen array-intersects + a fixed
      pre-prune overhead (two broadcast exchanges + a distinct; ≈ the
      whole 4 s gap at sf0.1 scale).

    So ``sets`` wins in TWO regions above ``corpus_floor`` (≈5× the
    sf0.1 volume — below it the fixed overhead dominates everything):

    1. sparse candidates (density < ``density_crossover``): the prune
       removes most of the corpus — any real web corpus (density ≪ 1 %,
       shingles ≫ 10⁹) sits deep here;
    2. high candidate DEGREE (|pairs|/|docs| ≥ ``degree_crossover``):
       regardless of density, hybrid's pairs-side expansion shuffles
       ≥ degree × corpus shingles while sets' intersect work stays
       local and linear in |pairs| — the near-dup-dense amplified
       corpus falls here (degree guard added round 9 after the ×100
       cut-off).

    Below ``bcast_budget`` raw shingles (≈32 MB of array payload at the
    measured 8 MB / 1.02 M-shingle sf0.1 density) the answer is
    ``bcast`` — the zero-shuffle whole-corpus-broadcast form, fastest
    at every measured small scale (1.9 s vs hybrid 3.9–14.2 s at
    sf0.1). The budget exists because ``jaccard_verify_bcast``'s forced
    broadcast is exactly the defect class round 9 removed from the
    relational tier: at sf0.1×10 amplified volume (~10 M shingles) the
    broadcast build OOMed the driver — caught by
    ``tools/amplify_smoke.py``, which is what this tier now prevents.
    """
    density = n_candidate_docs / max(n_docs, 1)
    if n_corpus_shingles <= bcast_budget:
        return "bcast"
    if n_corpus_shingles <= corpus_floor:
        return "hybrid"
    if n_pairs is not None and n_pairs / max(n_docs, 1) >= degree_crossover:
        return "sets"
    if density < density_crossover:
        return "sets"
    return "hybrid"


def estimate_corpus_shingles(docs: DataFrame, text_col: str, k: int = 5):
    """(n_docs, raw-shingle upper bound) from ONE cheap projection over
    the raw documents — ``Σ max(len(norm)−k+1, 1)``, i.e. the k-gram
    count BEFORE per-doc dedup, an upper bound on distinct shingles.

    Deliberately an independent lineage: callers persist the shingle
    table for the verify, and MEASURED at sf0.1, any pre-verify action
    that materializes that cache makes the fused explode-verify read
    its big array column back from columnar cache storage — 3× slower
    (~5.5 s → ~16.7 s) than recomputing it inside the verify's own
    whole-stage-codegen pass. The estimate must therefore never touch
    the persisted lineage.
    """
    from osmart_etl_spark.io.sources import default_parallelism

    norm = normalized_text(F.col(text_col))
    # Repartition before the agg (round 13, measured): the partial-agg
    # phase otherwise runs inside the scan stage — one task per input
    # file — evaluating the regexp normalize over every document
    # serially (1.4 s single-task stage at sf0.1 for the single-file
    # base SF). The shuffle moves only the raw text once and buys full
    # map parallelism for the per-byte regexp work.
    row = (
        docs.repartition(default_parallelism(docs.sparkSession))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.greatest(F.length(norm) - (k - 1), F.lit(1)).cast("bigint")
            ).alias("n_sh"),
        )
        .collect()[0]
    )
    return row["n_docs"] or 0, row["n_sh"] or 0


def jaccard_verify_auto(
    doc_sets: DataFrame,
    pairs: DataFrame,
    id_col: str,
    threshold: float = 0.5,
    *,
    n_docs: int,
    n_corpus_shingles: int,
    density_crossover: float = 0.5,
    corpus_floor: int = 10_000_000,
    bcast_budget: int = 4_000_000,
) -> DataFrame:
    """Size-dispatched exact-Jaccard verify — AQE in spirit: runtime
    stats pick the physical plan; all three shapes compute identical
    (id_a, id_b, jaccard) rows, so the dispatch never changes results.

    Stats are gathered LAZILY, cheapest-first:

    0. Below ``bcast_budget`` raw shingles the whole corpus-array
       table fits a safe broadcast → the zero-shuffle ``bcast`` form
       (fastest at every measured small scale). The budget is the
       guard round 9 added after the amplification harness OOMed the
       forced broadcast at sf0.1×10 — the same fact-proportional-
       broadcast defect class as the relational-tier hints.
    1. ``n_docs`` / ``n_corpus_shingles`` come from the caller (use
       :func:`estimate_corpus_shingles` — an independent lineage; see
       its docstring for why it must not touch the persisted shingle
       cache). Below ``corpus_floor`` the answer is already ``hybrid``
       and the candidate side is never evaluated early — the verify
       stays the single fused job.
    2. Only above the floor (a corpus big enough that one extra LSH
       evaluation is noise) is the candidate density measured: pairs is
       persisted and counted, and the candidate-doc count is bounded by
       min(n_docs, 2·|pairs|). The bound over-estimates density, i.e.
       errs toward ``hybrid``; in the sparse web-corpus regime where
       ``sets`` matters, 2·|pairs| ≪ n_docs by orders of magnitude, so
       the proxy never flips that decision.

    ``corpus_floor`` is against the RAW k-gram upper bound (≈2-3× the
    distinct count); 10M raw ≈ several× the sf0.1 corpus, past which the
    sets-path's fixed pre-prune barriers (measured ≈4 s at sf0.1)
    amortize.
    """
    if n_corpus_shingles <= bcast_budget:
        return jaccard_verify_bcast(doc_sets, pairs, id_col, threshold)
    if n_corpus_shingles <= corpus_floor:
        return jaccard_verify_hybrid(doc_sets, pairs, id_col, threshold)
    # No persist on `pairs`: a cache entry here would outlive the call
    # (the returned plan still reads it, so it could never be unpersisted
    # inside this function) and leak per invocation. The price is one
    # extra evaluation of the candidate pipeline for this count — above
    # the corpus floor by definition, where one extra LSH pass is noise
    # against the verify itself.
    n_pairs = pairs.count()
    n_cand_docs = min(n_docs, 2 * n_pairs)
    shape = choose_jaccard_verify(
        n_docs,
        n_corpus_shingles,
        n_cand_docs,
        n_pairs=n_pairs,
        density_crossover=density_crossover,
        corpus_floor=corpus_floor,
        bcast_budget=bcast_budget,
    )
    fn = jaccard_verify_sets if shape == "sets" else jaccard_verify_hybrid
    return fn(doc_sets, pairs, id_col, threshold)


def simhash60(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash over whitespace tokens.

    Token hash = first 15 hex chars of md5 (60 bits — fits a signed
    long in both engines); bit b of the fingerprint is the sign of
    Σ_tokens (2·bit_b(h) − 1). Output: (id, simhash bigint).

    Implementation: ONE projection, zero shuffles — a fold over the
    token-hash array carrying all 60 bit-vote counters in an array
    accumulator (zip_with against a literal mask array), then a second
    fold packs the positive-vote bits back into the fingerprint. The
    former shape (explode tokens × 60 bits + two groupBys) shuffled a
    60×-expanded row table — measured ~6× slower at sf0.1 and the
    dominant shuffle at scale. Docs with no tokens are dropped (matches
    the oracle's UNNEST semantics).
    """
    from osmart_etl_spark.ops.text import tokens

    from osmart_etl_spark.io.sources import default_parallelism

    n_parts = default_parallelism(df.sparkSession)
    masks = F.array(*[F.lit(1 << b).cast("bigint") for b in range(60)])
    hashes = F.transform(
        tokens(F.col(text_col)),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint"),
    )
    init = F.array_repeat(F.lit(0).cast("bigint"), 60)
    votes = F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc, masks, lambda v, m: v + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)
        ),
    )
    fp = F.aggregate(
        F.zip_with(
            votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("bigint"))
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        df.repartition(n_parts)
        .filter(F.size(tokens(F.col(text_col))) > 0)
        .select(F.col(id_col), fp.alias("simhash"))
    )


def hamming_neardup_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    *,
    max_dist: int,
    bits: int = 64,
) -> DataFrame:
    """All pairs (id_a < id_b) within Hamming distance ``max_dist`` of
    the ``bits``-bit integer ``hash_col`` (e.g. ``simhash60``) — COMPLETE
    pigeonhole banding, zero Python in the hot path.

    Bands: ``max_dist + 1`` contiguous bit ranges (the last takes the
    remainder). A pair within max_dist differs in <= max_dist bands ->
    shares at least one band exactly -> survives the per-band bucket
    join; bit_count verification removes the false candidates. No
    quadratic stage, recall 1.0 by construction. Output:
    (id_a, id_b, hamming).

    Scale shape: the banded join shuffles ~(bands x corpus) 16-byte
    rows — the MinHash-LSH banding cost model, including its hot-bucket
    caveat (a band value shared by k rows yields k(k-1)/2 candidates).
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in 1..64 (bigint hash), got {bits}")
    if max_dist + 1 > bits:
        # width = bits // (max_dist+1) == 0 would give every non-final band
        # an all-zero mask: one bucket per band -> a silent O(n^2) cross
        # join replicated n_bands-1 times. Refuse instead.
        raise ValueError(
            f"max_dist + 1 ({max_dist + 1}) bands cannot partition {bits} bits "
            "— need max_dist + 1 <= bits"
        )
    n_bands = max_dist + 1
    width = bits // n_bands
    band_exprs = []
    for i in range(n_bands):
        lo = i * width
        w = bits - lo if i == n_bands - 1 else width
        # w == 64 (single band over a full bigint): (1<<64)-1 overflows
        # F.lit's bigint; -1 is the same all-ones pattern in two's
        # complement and AND -1 is the identity.
        mask = (1 << w) - 1 if w < 64 else -1
        band_exprs.append(
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col(hash_col), lo)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
        )
    banded = hashes.select(
        F.col(id_col), F.col(hash_col), F.explode(F.array(*band_exprs)).alias("b")
    ).select(id_col, hash_col, F.col("b.band").alias("band"), F.col("b.key").alias("key"))
    a = banded.select(
        F.col("band"),
        F.col("key"),
        F.col(id_col).alias("id_a"),
        F.col(hash_col).alias("h_a"),
    )
    b = banded.select(
        F.col("band"),
        F.col("key"),
        F.col(id_col).alias("id_b"),
        F.col(hash_col).alias("h_b"),
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_dist)
        .distinct()
    )


def span_occurrences(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """k-token window inventory: one row per window position, keyed by
    the md5 of the window's space-joined tokens.

    Output: (id_col, pos, g) — pos is the 1-based token index of the
    window start, g the 128-bit digest. Row count is linear in corpus
    token count (≈ one row per token), so at 100 TB this stays a single
    scan + narrow projection. Repartitioned first (the shingle_sets
    rule, SCALE.md round 9): per-window md5 is heavy per-byte CPU, and
    the scan's file count otherwise caps the map parallelism — the
    single-file base SF ran the whole inventory on one task
    (amplify_smoke ×1 max_tasks=1).
    """
    from osmart_etl_spark.io.sources import default_parallelism

    n_parts = default_parallelism(df.sparkSession)
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))
    win = F.expr(
        f"transform(sequence(1, size(__t) - {k} + 1), "
        f"i -> struct(CAST(i AS BIGINT) AS pos, "
        f"md5(array_join(slice(__t, i, {k}), ' ')) AS g))"
    )
    return (
        df.repartition(n_parts)
        .select(id_col, toks.alias("__t"))
        .filter(F.size("__t") >= k)
        .select(id_col, F.explode(win).alias("__w"))
        .select(id_col, F.col("__w.pos").alias("pos"), F.col("__w.g").alias("g"))
    )


def span_excision(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Exact substring-span dedup (Lee et al. 2022, 'Deduplicating
    Training Data Makes Language Models Better', the ExactSubstr mode):
    find every maximal token span of length >= k that also occurs in at
    least one OTHER document, and emit it as a per-document excision
    span. Downstream, a trainer cuts [span_start, span_end) out of each
    listed document instead of dropping the whole document.

    Relational decomposition (suffix-array-free — the paper's suffix
    array is a single-machine structure; the k-gram inventory is the
    shuffle-friendly equivalent with identical output for spans >= k):

    1. window inventory (``span_occurrences``): linear, no shuffle;
    2. duplicated grams: groupBy(g) keeping count(DISTINCT doc) >= 2 —
       one exchange keyed by uniform digests (no skew by construction);
    3. occurrence join back on g — co-partitioned with step 2's
       exchange, so AQE plans a shuffled hash join with no extra
       exchange on the occurrence side;
    4. gaps-and-islands merge: overlapping/adjacent hit windows
       (pos_next <= pos + k) fuse into maximal spans via a per-doc
       lag + running-sum window — partitioned by doc, never global.

    Output: (id_col, span_start, span_end, span_len, n_windows) with
    span_end exclusive, positions 1-based in token space.
    """
    from pyspark.sql import Window

    occ = span_occurrences(df, id_col, text_col, k)
    # Deliberately NO numbered repartition under this agg (the round-5
    # AQE serial-reduce fix used elsewhere): measured under the worst
    # realistic skew (50k docs, 50% boilerplate — SCALE.md round 7),
    # the count_distinct reduce is byte-sized correctly by AQE (3 tasks
    # @ ~46 MB each, never 1),
    # because unlike the candidate-pair reduces this one is cheap per
    # record. Forcing 64 partitions here was tried and measured SLOWER
    # (skewed wall 5.8 s -> 9.1 s, 13x cumulative executor time from
    # per-task overhead), so byte-proportional sizing stands.
    dup = (
        occ.groupBy("g")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("g")
    )
    hits = occ.join(dup, "g").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    flagged = hits.withColumn(
        "__ns",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > k),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "__isl",
        F.sum("__ns").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy(id_col, "__isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k)).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"),
            "n_windows",
        )
    )


def span_excision_intra(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Intra-document repeated-span excision — the self-repetition
    companion of ``span_excision``: find every k-token window that
    occurs MORE THAN ONCE within the same document, keep each gram's
    FIRST occurrence, and emit the later occurrences as merged excision
    spans (the loops/boilerplate repetition mode: navigation blocks,
    templated headers, degenerate generation loops).

    Same relational skeleton as the cross-doc mode, but the duplicated-
    gram detection is per (doc, gram) — a window rank instead of a
    corpus-wide groupBy, so the only exchange is keyed (doc, gram) and
    the merge stays per-doc. Output columns match ``span_excision``.
    """
    from pyspark.sql import Window

    occ = span_occurrences(df, id_col, text_col, k)
    wg = Window.partitionBy(id_col, "g").orderBy("pos")
    hits = (
        occ.withColumn("__occ", F.row_number().over(wg))
        .filter(F.col("__occ") >= 2)
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    flagged = hits.withColumn(
        "__ns",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > k),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "__isl",
        F.sum("__ns").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy(id_col, "__isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k)).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"),
            "n_windows",
        )
    )
