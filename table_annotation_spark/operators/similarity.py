"""Similarity search over embedding columns: brute-force cosine top-k
(baseline) and a sign-bucket LSH variant (the scale path).

Cosine scores are computed JVM-side with `zip_with`/`aggregate` (no UDF).
Outputs carry ranks, not raw floats — float summation order differs between
engines, so the DuckDB oracles compare the SELECTED NEIGHBORS, which are
stable, instead of the scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TOP_K = 5
N_QUERIES = 50       # first N vec_ids serve as the query set
LSH_BITS = 8         # sign of the first 8 dimensions


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(c):
    return F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for the first N_QUERIES vectors.
    Broadcast the (small) query side; scan the corpus once. Norms are
    hoisted out of the pair loop: ||q|| once per query row and ||c|| once
    per corpus row instead of per pair — the higher-order aggregate is
    interpreted per element, so each hoisted norm saves 64 interpreted
    ops x N_QUERIES per corpus row; cos = dot/(||q||*||c||) is the same
    float expression on the same values, so scores are bit-identical."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_norm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"),
        _norm(F.col("embedding")).alias("c_norm"),
    )
    j = (
        F.broadcast(q).crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            _dot(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_norm") * F.col("c_norm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("rank").cast("bigint").alias("rank"),
            F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        )
        .orderBy("query_id", "rank")
    )


ANN_BRUTEFORCE_SQL = f"""
WITH j AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERIES}
), r AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM j
)
SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank,
       neighbor_id::BIGINT AS neighbor_id
FROM r WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


def _bucket(emb):
    """Sign bucket over the first LSH_BITS dimensions — a deterministic
    random-hyperplane LSH stand-in (the 'planes' are the axis planes)."""
    return F.concat(
        *[
            F.when(F.element_at(emb, i + 1) >= 0, "1").otherwise("0")
            for i in range(LSH_BITS)
        ]
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: candidates restricted to the query's sign bucket, then
    exact cosine re-rank within the bucket (IVF-style two-stage search).
    Norms hoisted per side as in ``ann_bruteforce_topk`` (bit-identical
    scores)."""
    e = _emb(spark, sf_dir).withColumn("bucket", _bucket(F.col("embedding")))
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
        "bucket", _norm(F.col("embedding")).alias("q_norm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"),
        "bucket", _norm(F.col("embedding")).alias("c_norm"),
    )
    j = (
        q.join(c, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            _dot(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_norm") * F.col("c_norm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("rank").cast("bigint").alias("rank"),
            F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        )
        .orderBy("query_id", "rank")
    )


_BUCKET_SQL = " || ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END)"
    for i in range(LSH_BITS)
)

ANN_LSH_SQL = f"""
WITH e AS (SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings),
j AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
  FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERIES}
), r AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM j
)
SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank,
       neighbor_id::BIGINT AS neighbor_id
FROM r WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""

ORACLES = {
    "sim_ann_bruteforce": ANN_BRUTEFORCE_SQL,
    "sim_ann_lsh": ANN_LSH_SQL,
}

QUERIES = {
    "sim_ann_bruteforce": ann_bruteforce_topk,
    "sim_ann_lsh": ann_lsh_topk,
}


# ---------------------------------------------------------------------------
# One Lloyd iteration of k-means (IVF coarse-quantizer training shape)
# ---------------------------------------------------------------------------

KMEANS_DIM = 64      # embedding width in the testdata (fixed by TESTDATA.md)
KMEANS_ROUND = 4     # distances rounded before ranking: double-precision
                     # summation ORDER differs between engines (~1e-15
                     # relative), so rank on a 1e-4 grid with a centroid-id
                     # tie-break — deterministic on both sides


def _dist_structs(cents_col, round_digits: int = KMEANS_ROUND):
    """(dist, clabel) struct per centroid, computed row-locally against the
    row's ``embedding`` — same distance expression and rounding grid as the
    exploded form it replaces, so argmin results are identical."""
    return F.transform(
        cents_col,
        lambda c: F.struct(
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.zip_with(
                            F.col("embedding"),
                            c["cvec"],
                            lambda a, b: (a.cast("double") - b)
                            * (a.cast("double") - b),
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                ),
                round_digits,
            ).alias("dist"),
            c["clabel"].alias("clabel"),
        ),
    )


def _cents_one_row(cent: DataFrame) -> DataFrame:
    """k centroid rows → ONE row holding array<struct(clabel, cvec)> —
    broadcast as a single-row relation so the E step is a row-local
    array_min instead of a corpus x k explode + regrouping exchange."""
    return cent.agg(
        F.array_sort(F.collect_list(F.struct("clabel", "cvec"))).alias("cents")
    )


def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd iteration: per-label mean centroids (the M step over
    the current partition) then nearest-centroid reassignment (the E
    step), reported as a (true_label, assigned_label) contingency table —
    the iterative loop body that trains an IVF coarse quantizer for
    `ann_lsh_topk`'s bucketed search at 100 TB.

    Scale posture: the M step is ONE map-side-combinable aggregate (64
    avg columns, JVM-side); the k centroids collapse to a single
    broadcast row (array of (clabel, cvec) structs), and the E step is a
    ROW-LOCAL argmin — array_min over (dist, clabel) structs — so the
    corpus is scanned once with no k-way row explosion, no Window, and no
    regrouping exchange: the embedding column never shuffles at all (the
    only exchanges left are the k-group centroid aggregate and the tiny
    output contingency aggregate). array_min over (dist, clabel) is
    exactly the old min(struct(dist, clabel)) tie-break."""
    e = _emb(spark, sf_dir)
    cent = e.groupBy(F.col("label").alias("clabel")).agg(
        F.array(
            *[F.avg(F.col("embedding")[i]) for i in range(KMEANS_DIM)]
        ).alias("cvec")
    )
    best = e.crossJoin(F.broadcast(_cents_one_row(cent))).select(
        "label", F.array_min(_dist_structs(F.col("cents"))).alias("m")
    )
    return (
        best.groupBy(
            F.col("label").cast("bigint").alias("true_label"),
            F.col("m.clabel").cast("bigint").alias("assigned_label"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .orderBy("true_label", "assigned_label")
    )


KMEANS_ASSIGN_SQL = f"""
WITH pos AS (
  SELECT vec_id, label,
         unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
), cent AS (
  SELECT label AS clabel, array_agg(cx ORDER BY i) AS cvec
  FROM (SELECT label, i, avg(x) AS cx FROM pos GROUP BY label, i)
  GROUP BY label
), d AS (
  SELECT e.vec_id, e.label, c.clabel,
         round(list_distance(e.embedding::DOUBLE[], c.cvec::DOUBLE[]),
               {KMEANS_ROUND}) AS dist
  FROM embeddings e CROSS JOIN cent c
), best AS (
  SELECT vec_id, label, clabel,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rk
  FROM d
)
SELECT label::BIGINT AS true_label, clabel::BIGINT AS assigned_label,
       count(*)::BIGINT AS n_vecs
FROM best WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2
"""

ORACLES["sim_kmeans_assign"] = KMEANS_ASSIGN_SQL
QUERIES["sim_kmeans_assign"] = kmeans_assign


# ---------------------------------------------------------------------------
# Multi-iteration k-means training (the actual IVF coarse-quantizer loop)
# ---------------------------------------------------------------------------

KMEANS_ITERS = 3
KMEANS_CENT_ROUND = 6  # centroid coordinates rounded after every M step:
                       # avg() summation order differs between engines
                       # (~1e-15 relative), and drift COMPOUNDS across
                       # iterations — pin each M step to a 1e-6 grid so both
                       # engines iterate over identical centroids


def kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMEANS_ITERS full Lloyd iterations (E+M per iteration), seeded with
    per-label means — the training loop that produces an IVF coarse
    quantizer for `ann_lsh_topk`'s bucketed search. Output: the final
    (true_label, assigned_label) contingency table.

    Scale posture (what Spark MLlib's KMeans itself does): centroids are
    k×dim — genuinely tiny at ANY corpus size — so each M step collects k
    rows to the driver and re-embeds them as a LITERAL array of
    (clabel, cvec) structs; each iteration is then ONE corpus scan with a
    ROW-LOCAL array_min argmin (identical (dist, clabel) tie-break as the
    old exploded min-struct form) — no join at all, no Window, no k-way
    row explosion, and the embedding column never shuffles (the M step's
    avg is map-side combined, so only k×partitions partial rows move).
    No lineage accretion across iterations (each iteration reads the
    literal centroids, not the previous plan). Empty clusters drop out
    (standard Lloyd degeneracy; both engines agree since assignments
    agree)."""
    e = _emb(spark, sf_dir)

    def m_step(assigned: DataFrame) -> list:
        """Mean per assigned cluster, coordinates pinned to the 1e-6 grid;
        returns the k collected rows."""
        return (
            assigned.groupBy("clabel")
            .agg(
                F.array(
                    *[
                        F.round(F.avg(F.col("embedding")[i]), KMEANS_CENT_ROUND)
                        for i in range(KMEANS_DIM)
                    ]
                ).alias("cvec")
            )
            .collect()
        )

    def e_step(cent_rows: list) -> DataFrame:
        cents = F.array(
            *[
                F.struct(
                    F.lit(int(r["clabel"])).cast("bigint").alias("clabel"),
                    F.array(
                        *[F.lit(float(x)) for x in r["cvec"]]
                    ).alias("cvec"),
                )
                for r in sorted(cent_rows, key=lambda r: r["clabel"])
            ]
        )
        return e.select(
            "vec_id", "label", "embedding",
            F.array_min(_dist_structs(cents))["clabel"].alias("clabel"),
        )

    # seed: per-label means (same deterministic seeding as kmeans_assign)
    cent_rows = m_step(
        e.select("embedding", F.col("label").cast("bigint").alias("clabel"))
    )
    assigned = None
    for _ in range(KMEANS_ITERS):
        assigned = e_step(cent_rows)
        cent_rows = m_step(assigned)

    return (
        assigned.groupBy(
            F.col("label").cast("bigint").alias("true_label"),
            F.col("clabel").cast("bigint").alias("assigned_label"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .orderBy("true_label", "assigned_label")
    )


def _kmeans_train_sql(iters: int = KMEANS_ITERS) -> str:
    """Nested-CTE DuckDB restatement: cent0 = per-label means, then
    (assign_i from cent_{i-1}, cent_i from assign_i) per iteration — the
    same 1e-4 distance grid and 1e-6 centroid grid as the Spark side."""
    ctes = [
        """pos AS (
  SELECT vec_id, label, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
)""",
        """cent0 AS (
  SELECT clabel, array_agg(cx ORDER BY i) AS cvec FROM (
    SELECT label AS clabel, i, round(avg(x), %(cr)d) AS cx
    FROM pos GROUP BY label, i
  ) GROUP BY clabel
)""" % {"cr": KMEANS_CENT_ROUND},
    ]
    for it in range(1, iters + 1):
        ctes.append(
            f"""d{it} AS (
  SELECT e.vec_id, e.label, c.clabel,
         round(list_distance(e.embedding::DOUBLE[], c.cvec::DOUBLE[]),
               {KMEANS_ROUND}) AS dist
  FROM embeddings e CROSS JOIN cent{it - 1} c
), a{it} AS (
  SELECT vec_id, label, clabel FROM (
    SELECT vec_id, label, clabel,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rk
    FROM d{it}
  ) WHERE rk = 1
)"""
        )
        if it < iters:
            ctes.append(
                f"""cent{it} AS (
  SELECT clabel, array_agg(cx ORDER BY i) AS cvec FROM (
    SELECT a.clabel, p.i, round(avg(p.x), {KMEANS_CENT_ROUND}) AS cx
    FROM a{it} a JOIN pos p USING (vec_id) GROUP BY a.clabel, p.i
  ) GROUP BY clabel
)"""
            )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT label::BIGINT AS true_label, clabel::BIGINT AS assigned_label,
       count(*)::BIGINT AS n_vecs
FROM a{iters} GROUP BY 1, 2 ORDER BY 1, 2
"""
    )


KMEANS_TRAIN_SQL = _kmeans_train_sql()

ORACLES["sim_kmeans_train"] = KMEANS_TRAIN_SQL
QUERIES["sim_kmeans_train"] = kmeans_train


# ---------------------------------------------------------------------------
# IVF two-stage ANN search over the coarse quantizer
# ---------------------------------------------------------------------------

IVF_NPROBE = 2       # lists probed per query


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search — the scale path the kmeans training loop exists for:
    coarse quantizer = per-label mean centroids (one M step, the same
    deterministic seed as `kmeans_assign`); inverted lists = every corpus
    vector assigned to its nearest centroid; each query probes its
    IVF_NPROBE nearest lists and re-ranks EXACT cosine within those lists
    only.

    Scale posture: the k centroids collapse to ONE broadcast row (array of
    (clabel, cvec) structs); building the inverted lists is one corpus
    scan with a ROW-LOCAL array_min argmin (no k-way explode, no Window,
    no regrouping exchange — the embedding column never shuffles), and
    each query's nprobe lists come from slice(array_sort(dists)) on the
    same row-local struct array (identical (dist, clabel) ordering as the
    old row_number ranking); the probe join is broadcast(queries × nprobe)
    against the lists, so the corpus is never self-joined and candidates
    are bounded by the probed lists' sizes. Re-rank norms hoisted per side
    (bit-identical cos). Faiss IVF-Flat semantics as DataFrame ops."""
    e = _emb(spark, sf_dir)
    cent = e.groupBy(F.col("label").cast("bigint").alias("clabel")).agg(
        F.array(
            *[
                F.round(F.avg(F.col("embedding")[i]), KMEANS_CENT_ROUND)
                for i in range(KMEANS_DIM)
            ]
        ).alias("cvec")
    )
    base = e.crossJoin(F.broadcast(_cents_one_row(cent)))
    dists = _dist_structs(F.col("cents"))
    inv = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.array_min(dists)["clabel"].alias("list_id"),
        F.col("embedding").alias("c_emb"),
        _norm(F.col("embedding")).alias("c_norm"),
    )
    probes = (
        base.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _norm(F.col("embedding")).alias("q_norm"),
            F.explode(
                F.slice(F.array_sort(dists), 1, IVF_NPROBE)
            ).alias("pr"),
        )
        .select(
            "query_id", "q_emb", "q_norm", F.col("pr.clabel").alias("list_id")
        )
    )
    j = (
        F.broadcast(probes)
        .join(inv, "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            _dot(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_norm") * F.col("c_norm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("rank").cast("bigint").alias("rank"),
            F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        )
        .orderBy("query_id", "rank")
    )


ANN_IVF_SQL = f"""
WITH pos AS (
  SELECT vec_id, label, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
), cent AS (
  SELECT clabel, array_agg(cx ORDER BY i) AS cvec FROM (
    SELECT label AS clabel, i, round(avg(x), {KMEANS_CENT_ROUND}) AS cx
    FROM pos GROUP BY label, i
  ) GROUP BY clabel
), d AS (
  SELECT e.vec_id, e.embedding, c.clabel,
         round(list_distance(e.embedding::DOUBLE[], c.cvec::DOUBLE[]),
               {KMEANS_ROUND}) AS dist
  FROM embeddings e CROSS JOIN cent c
), inv AS (
  SELECT vec_id AS neighbor_id, clabel AS list_id, embedding AS c_emb FROM (
    SELECT vec_id, clabel, embedding,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rk
    FROM d
  ) WHERE rk = 1
), probes AS (
  SELECT vec_id AS query_id, embedding AS q_emb, clabel AS list_id FROM (
    SELECT vec_id, embedding, clabel,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rk
    FROM d WHERE vec_id < {N_QUERIES}
  ) WHERE rk <= {IVF_NPROBE}
), j AS (
  SELECT p.query_id, i.neighbor_id,
         list_cosine_similarity(p.q_emb::DOUBLE[], i.c_emb::DOUBLE[]) AS cos
  FROM probes p JOIN inv i USING (list_id)
  WHERE p.query_id != i.neighbor_id
), r AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM j
)
SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank,
       neighbor_id::BIGINT AS neighbor_id
FROM r WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""

ORACLES["sim_ann_ivf"] = ANN_IVF_SQL
QUERIES["sim_ann_ivf"] = ann_ivf_topk
