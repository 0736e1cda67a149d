"""Similarity search over embedding columns (array<float>).

Two tiers per the mandate:
  * brute-force cosine top-k — the exact baseline (queries.q_ann_topk);
  * LSH-bucketed variants — the scale path: sign-bit bucketing turns the
    O(n^2) similarity join into an equi-join on bucket id, the same
    rewrite shape as the spatial cell join (bucket == cell).

All expressions are Spark built-ins (zip_with/aggregate fold — the fold
order is sequential, matching the DuckDB twin's list_dot_product, so
rounded similarities agree cross-engine).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _emb_double(col):
    from pyspark.sql import functions as F
    return F.transform(col, lambda x: x.cast("double"))


def dot_cols_expr(a: str, b: str, dim: int):
    """Codegen'd left-to-right dot product of two array<double>
    columns with a KNOWN width: unrolled element_at sum. Spark's
    higher-order aggregate/zip_with lambdas are interpreted per
    element (10-30x slower than codegen — the round-1 MinHash lesson);
    64 unrolled terms stay far under the janino 64KB method limit and
    ride whole-stage codegen. The fold order is the same sequential
    left-to-right as the DuckDB twin's list_dot_product (SQL `+` is
    left-associative), so the doubles match bit-for-bit.

    ``a``/``b`` are SQL column references, not Column objects: the
    whole sum is built as ONE string handed to a single F.expr call.
    Building it Column-by-Column cost ~2*dim py4j round-trips
    (~0.5-1 s of driver latency per query at dim=64 — the round-3
    ann_topk bench regression); one parse on the JVM side is ~free."""
    from pyspark.sql import functions as F
    return F.expr(" + ".join(
        f"element_at({a}, {i}) * element_at({b}, {i})"
        for i in range(1, dim + 1)))


def dot_lit_expr(col: str, qv):
    """Codegen'd dot product of an array<double> column (SQL reference
    string) with a literal query vector — same single-F.expr unrolled,
    sequential shape as :func:`dot_cols_expr`. Literals go through
    CAST('<repr>' AS DOUBLE): repr round-trips the exact double and
    string->double casting is correctly rounded, so the JVM sees the
    same bits the driver held."""
    from pyspark.sql import functions as F
    return F.expr(" + ".join(
        f"element_at({col}, {i + 1}) * CAST('{float(v)!r}' AS DOUBLE)"
        for i, v in enumerate(qv)))


def cosine_col(a, b, dim: int | None = None):
    """Column expr: cosine similarity of two array<double> columns.
    Pass ``dim`` (the embedding width) to unroll into whole-stage
    codegen — ``a``/``b`` must then be SQL column reference STRINGS
    (see dot_cols_expr); without it the interpreted higher-order fold
    is used and ``a``/``b`` are Column objects."""
    from pyspark.sql import functions as F
    if dim is not None:
        dot = dot_cols_expr(a, b, dim)
        na = F.sqrt(dot_cols_expr(a, a, dim))
        nb = F.sqrt(dot_cols_expr(b, b, dim))
        return dot / (na * nb)
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                      lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0),
                            lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0),
                            lambda acc, x: acc + x))
    return dot / (na * nb)


# Below this many input rows the fixed cost of unrolled-expression
# codegen (janino compile of a 3*dim-term method; observed 0.3 s
# typical, multi-second worst-case first run) exceeds what the
# interpreted higher-order fold spends evaluating every row — so
# interactive/small scans take the cheap-plan path and only genuinely
# large scans pay the compile to go 1.3x faster per row (SURVEY §8).
# Both folds are sequential left-to-right, so results are bit-equal.
ANN_UNROLL_MIN_ROWS = 2_000_000


def dot_lit_fold(col, qv):
    """Interpreted (no-codegen) dot product of an array<double> Column
    with a literal query vector: zip_with + sequential aggregate fold.
    Bit-identical to dot_lit_expr — same left-to-right double adds —
    with a tiny plan instead of a 2*dim-term codegen method."""
    from pyspark.sql import functions as F
    arr = F.expr("array(" + ",".join(
        f"CAST('{float(v)!r}' AS DOUBLE)" for v in qv) + ")")
    return F.aggregate(F.zip_with(col, arr, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm_fold(col):
    """Interpreted sequential sum-of-squares -> sqrt (bit-equal twin of
    sqrt(dot_cols_expr(c, c, dim)))."""
    from pyspark.sql import functions as F
    return F.sqrt(F.aggregate(F.transform(col, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def ann_topk(emb_df, query_vec, k: int = 10, *, id_col: str = "vec_id",
             emb_col: str = "embedding", unroll: bool | None = None,
             expected_rows: int | None = None):
    """Exact brute-force cosine top-k vs a literal query vector — the
    ANN baseline tier. One map-side scan + TakeOrderedAndProject (per-
    partition top-k, k rows to the driver); no shuffle of the table.

    Strategy choice (the round-3 regression fix): ``unroll=True``
    compiles the dot products into whole-stage codegen — right when the
    scan is large enough to amortize the janino compile; ``False`` uses
    the interpreted higher-order fold — right for interactive queries
    and small inputs. Default: decided by ``expected_rows`` (e.g. from
    parquet footer metadata) against ANN_UNROLL_MIN_ROWS. The two paths
    execute the same left-to-right double arithmetic, so they are
    bit-equal and hash-equal under the oracle."""
    from pyspark.sql import functions as F
    import numpy as np
    qv = [float(v) for v in query_vec]
    if unroll is None:
        unroll = (expected_rows is not None
                  and expected_rows >= ANN_UNROLL_MIN_ROWS)
    # project the double-cast array ONCE (an unbound transform expr
    # under 2*dim element_at references could re-evaluate per term)
    ev = emb_df.select(F.col(id_col),
                       _emb_double(F.col(emb_col)).alias("v"))
    # query norm accumulated SEQUENTIALLY (not numpy pairwise): the
    # DuckDB twin sums left-to-right and a last-ulp difference could
    # flip the 6dp rounding
    qn = float(np.sqrt(sum(v * v for v in qv)))
    if unroll:
        dot = dot_lit_expr("v", qv)
        nv = F.sqrt(dot_cols_expr("v", "v", len(qv)))
    else:
        dot = dot_lit_fold(F.col("v"), qv)
        nv = norm_fold(F.col("v"))
    sim = F.round(dot / (nv * F.lit(qn)), 6)
    return (ev.select(id_col, sim.alias("sim"))
            .orderBy(F.col("sim").desc(), F.col(id_col).asc())
            .limit(k))


# ---------------------------------------------------------------------------
# banded multi-table hyperplane LSH (the scale path for near-dup)
# ---------------------------------------------------------------------------

def hyperplane_signs(n_proj: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 Rademacher hyperplanes, one row per projection:
    sign(j, i) = parity of the first md5('hp{j}d{i}') nibble. Rademacher
    projections are within a constant of Gaussian ones for sign-LSH and
    are reproducible as plain +/- terms in both Spark and DuckDB (the
    sum is emitted in a fixed left-to-right order, so the double
    arithmetic is bit-identical cross-engine; only the sign crosses the
    boundary)."""
    import hashlib
    return [[1 if int(hashlib.md5(f"hp{j}d{i}".encode())
                      .hexdigest()[0], 16) % 2 == 0 else -1
             for i in range(dim)]
            for j in range(n_proj)]


def _proj_sql(emb_expr: str, signs: list[int]) -> str:
    parts = [f"{'+' if s > 0 else '-'} {emb_expr}[{i + 1}]"
             for i, s in enumerate(signs)]
    return "(" + " ".join(parts).lstrip("+ ") + ")" \
        if signs and signs[0] > 0 else "(0 " + " ".join(parts) + ")"


def lsh_near_dup(emb_df, *, id_col: str = "vec_id",
                 emb_col: str = "embedding", dim: int = 64,
                 bands: int = 8, rows_per_band: int = 4,
                 max_bucket: int = 1000, threshold: float = 0.9):
    """Embedding near-dup pairs via banded multi-table hyperplane LSH:
    band b's bucket id packs the signs of ``rows_per_band`` Rademacher
    projections; candidates share a (band, bucket); exact cosine >=
    threshold verifies. -> (vec_a, vec_b, sim rounded 6).

    Scale design (the round-1 version self-joined a FIXED 2^8-bucket
    table with no cap — O(n^2/256) pairs at 10^12 rows):
      * bucket count per band = 2^rows_per_band and bands are
        independent — selectivity and bucket count scale with the
        parameters, not a constant (raise rows_per_band as n grows;
        recall is recovered by adding bands);
      * ``max_bucket`` caps pathological buckets exactly as in
        dedup.lsh_candidate_pairs — a degenerate bucket (zero vectors,
        mass duplicates) is dropped, never self-joined quadratically;
      * the only shuffles are the (band, bkt) groupBy/join, keyed by a
        hash-uniform-ish id; AQE skew-join covers the residue."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    signs = hyperplane_signs(bands * rows_per_band, dim)
    e = emb_df.select(F.col(id_col),
                      _emb_double(F.col(emb_col)).alias("v"))

    # bucket ids via ONE Arrow-vectorized pandas UDF: unrolling the
    # bands*rows_per_band*dim signed sum into column expressions blows
    # the JVM 64KB codegen method limit (janino falls back to
    # interpreted eval — a scale-killer). The UDF accumulates each
    # projection SEQUENTIALLY over dims (acc += ±v[:, i]), so the
    # double arithmetic is bit-identical to the SQL twin's fixed
    # left-to-right sum; only the sign crosses the engine boundary.
    smat = np.array(signs, dtype=np.float64)  # (n_proj, dim)

    @pandas_udf("array<long>")
    def _buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(v.to_numpy()).astype(np.float64, copy=False)
        if m.shape[1] != smat.shape[1]:
            raise ValueError(
                f"embedding width {m.shape[1]} != declared dim "
                f"{smat.shape[1]} (pass dim= to lsh_near_dup)")
        n = m.shape[0]
        out = np.zeros((n, bands), dtype=np.int64)
        for b in range(bands):
            for j in range(rows_per_band):
                s = smat[b * rows_per_band + j]
                acc = np.zeros(n, dtype=np.float64)
                for i in range(m.shape[1]):
                    acc = acc + s[i] * m[:, i] if s[i] > 0 else \
                        acc - m[:, i]
                out[:, b] |= (acc > 0).astype(np.int64) << j
        return pd.Series(list(out))

    bt = (e.withColumn("_bkts", _buckets(F.col("v")))
          .select(id_col, F.posexplode("_bkts").alias("band", "bkt")))
    ok = bt.groupBy("band", "bkt").count().filter(
        (F.col("count") > 1) & (F.col("count") <= max_bucket))
    bt = bt.join(ok.select("band", "bkt"), ["band", "bkt"])
    cand = (bt.alias("l").join(bt.alias("r"), ["band", "bkt"])
            .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            .select(F.col(f"l.{id_col}").alias("vec_a"),
                    F.col(f"r.{id_col}").alias("vec_b"))
            .distinct())
    a = e.select(F.col(id_col).alias("vec_a"), F.col("v").alias("va"))
    b = e.select(F.col(id_col).alias("vec_b"), F.col("v").alias("vb"))
    # interpreted fold here on purpose: the verify stage runs on the
    # small candidate-pair set, and the unrolled 3*dim-term cosine
    # fused into the distinct+join WSCG stage crosses the janino 64KB
    # method limit (observed), losing codegen for the WHOLE stage
    sim = F.round(cosine_col(F.col("va"), F.col("vb")), 6)
    return (cand.join(a, "vec_a").join(b, "vec_b")
            .select("vec_a", "vec_b", sim.alias("sim"))
            .filter(F.col("sim") >= threshold))


def lsh_near_dup_sql(threshold: float = 0.9, table: str = "embeddings",
                     dim: int = 64, bands: int = 8,
                     rows_per_band: int = 4,
                     max_bucket: int = 1000) -> str:
    """DuckDB twin of lsh_near_dup — identical hyperplanes (same md5
    derivation), identical fixed-order sums, identical bucket cap."""
    signs = hyperplane_signs(bands * rows_per_band, dim)
    band_rows = []
    for b in range(bands):
        terms = []
        for j in range(rows_per_band):
            p = _proj_sql("v", signs[b * rows_per_band + j])
            terms.append(f"CASE WHEN {p} > 0 THEN CAST({1 << j} AS "
                         f"BIGINT) ELSE 0 END")
        band_rows.append(f"SELECT vec_id, {b} AS band, "
                         f"({' + '.join(terms)}) AS bkt FROM e")
    bandt = " UNION ALL ".join(band_rows)
    cos = ("list_dot_product(av.v, bv.v) / "
           "(sqrt(list_dot_product(av.v, av.v)) * "
           "sqrt(list_dot_product(bv.v, bv.v)))")
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table}
), bandt AS ( {bandt} ),
bok AS (
  SELECT band, bkt FROM bandt GROUP BY band, bkt
  HAVING COUNT(*) > 1 AND COUNT(*) <= {max_bucket}
), bf AS (
  SELECT bandt.* FROM bandt JOIN bok USING (band, bkt)
), cand AS (
  SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
  FROM bf l JOIN bf r ON l.band = r.band AND l.bkt = r.bkt
  WHERE l.vec_id < r.vec_id
)
SELECT c.vec_a, c.vec_b, ROUND({cos}, 6) AS sim
FROM cand c JOIN e av ON av.vec_id = c.vec_a
            JOIN e bv ON bv.vec_id = c.vec_b
WHERE ROUND({cos}, 6) >= {threshold}
"""


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path the mandate names
# ---------------------------------------------------------------------------

def ivf_train(sample: "np.ndarray", k: int = 8, iters: int = 5
              ) -> "np.ndarray":
    """Deterministic Lloyd k-means on a DRIVER-SIDE SAMPLE (the standard
    IVF recipe: the coarse quantizer trains on a bounded sample, only
    the assignment is distributed). Init = first k sample rows (sample
    order is deterministic by vec_id), so the same input always yields
    the same centroids — they are then baked as LITERALS into both the
    Spark plan and the DuckDB twin, which sidesteps the cross-engine
    float-summation-order problem entirely (distributed float SUM is
    partition-order dependent; literals are not)."""
    x = np.asarray(sample, dtype=np.float64)
    if x.ndim != 2 or x.shape[0] < k:
        raise ValueError(
            f"ivf_train needs a (n>=k, dim) sample, got shape {x.shape} "
            f"for k={k}")
    cent = x[:k].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for j in range(k):
            sel = x[a == j]
            if len(sel):
                cent[j] = sel.mean(axis=0)
    return cent


def _sq_dist_seq(m: "np.ndarray", c: "np.ndarray") -> "np.ndarray":
    """Squared distance accumulated SEQUENTIALLY over dims — the same
    left-to-right order the SQL twin's explicit sum uses, so the
    doubles (and hence the argmin) are bit-identical cross-engine."""
    acc = np.zeros(m.shape[0], dtype=np.float64)
    for i in range(m.shape[1]):
        t = m[:, i] - c[i]
        acc = acc + t * t
    return acc


def ivf_assign_udf(centroids: "np.ndarray"):
    """array<double> -> nearest-centroid id (Arrow-vectorized)."""
    from pyspark.sql.functions import pandas_udf
    cent = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        m = np.stack(v.to_numpy()).astype(np.float64, copy=False)
        d = np.empty((m.shape[0], cent.shape[0]))
        for j in range(cent.shape[0]):
            d[:, j] = _sq_dist_seq(m, cent[j])
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return assign


def _sq_dist_sql(vexpr: str, c: "np.ndarray") -> str:
    terms = [f"({vexpr}[{i + 1}] - {c[i]!r}) * "
             f"({vexpr}[{i + 1}] - {c[i]!r})"
             for i in range(len(c))]
    return "(" + " + ".join(terms) + ")"


def ivf_assign_sql(vexpr: str, centroids: "np.ndarray") -> str:
    """SQL twin of ivf_assign_udf: explicit per-centroid distance sums
    (same order) + argmin via a LEAST comparison chain. Strict-< argmin
    with lowest-index tiebreak matches numpy argmin."""
    k = len(centroids)
    ds = [_sq_dist_sql(vexpr, centroids[j]) for j in range(k)]
    least = "LEAST(" + ", ".join(ds) + ")"
    whens = " ".join(f"WHEN {ds[j]} = {least} THEN {j}"
                     for j in range(k))
    return f"(CASE {whens} END)"


def _probe_lists(query_vec, centroids: "np.ndarray",
                 nprobe: int) -> list[int]:
    """nprobe nearest centroid ids for a query (sequential-sum
    distances; stable argsort — the same derivation the SQL twin
    inlines)."""
    cent = np.asarray(centroids, dtype=np.float64)
    qv = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    qd = np.array([_sq_dist_seq(qv[None, :], cent[j])[0]
                   for j in range(len(cent))])
    return [int(j) for j in np.argsort(qd, kind="stable")[:nprobe]]


def _cosine_topk(e, query_vec, k: int, id_col: str):
    """Rank a candidate DataFrame (id, v: array<double>) by exact
    cosine vs the query literal -> (id, sim rounded 6) top-k."""
    from pyspark.sql import functions as F
    qv = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    # query norm accumulated SEQUENTIALLY (not numpy pairwise
    # summation): the DuckDB twin's list_dot_product sums
    # left-to-right, and a last-ulp difference could flip the
    # 6dp-rounded cosine at a rounding boundary
    qn = float(np.sqrt(_sq_dist_seq(qv[None, :],
                                    np.zeros(qv.shape[0]))[0]))
    dot = dot_lit_expr("v", qv)
    nv = F.sqrt(dot_cols_expr("v", "v", len(qv)))
    sim = F.round(dot / (nv * F.lit(qn)), 6)
    return (e.select(id_col, sim.alias("sim"))
            .orderBy(F.col("sim").desc(), F.col(id_col).asc())
            .limit(k))


def ivf_index(emb_df, centroids: "np.ndarray", path: str, *,
              id_col: str = "vec_id", emb_col: str = "embedding"):
    """Materialize the IVF inverted file: compute each vector's coarse
    list assignment ONCE (map-side pandas UDF, embarrassingly parallel)
    and write the table PARTITIONED BY the list id. Probes
    (:func:`ivf_probe_topk`) then read only their ``nprobe``
    partitions — a partition-pruned parquet scan with no assignment
    UDF anywhere in the query plan.

    This is the 100 TB shape: assignment cost is paid once at ingest,
    amortized over every subsequent query; at k ~ sqrt(n) lists each
    partition stays a bounded slice of the table, and a query touches
    nprobe/k of the data."""
    from pyspark.sql import functions as F
    cent = np.asarray(centroids, dtype=np.float64)
    assign = ivf_assign_udf(cent)
    e = emb_df.select(F.col(id_col),
                      _emb_double(F.col(emb_col)).alias("v"))
    (e.withColumn("_list", assign(F.col("v")))
     .write.mode("overwrite").partitionBy("_list").parquet(path))
    return path


def ivf_probe_topk(spark, index_path: str, query_vec,
                   centroids: "np.ndarray", k: int = 10,
                   nprobe: int = 2, *, id_col: str = "vec_id"):
    """IVF ANN probe over a materialized :func:`ivf_index` table: the
    ``_list IN (probe)`` predicate is a PARTITION filter (the scan
    never opens non-probed partitions), candidates are ranked by exact
    cosine. Zero Python in the plan — assignment happened at ingest."""
    from pyspark.sql import functions as F
    probe = _probe_lists(query_vec, centroids, nprobe)
    e = (spark.read.parquet(index_path)
         .filter(F.col("_list").isin(probe)))
    return _cosine_topk(e, query_vec, k, id_col)


def ivf_ann_topk(emb_df, query_vec, centroids: "np.ndarray",
                 k: int = 10, nprobe: int = 2, *,
                 id_col: str = "vec_id", emb_col: str = "embedding"):
    """IVF approximate top-k WITHOUT a materialized index: assignment
    runs inline (one map-side pandas UDF over the table) before the
    probe filter. One-shot/ad-hoc form — for repeated queries build
    the inverted file once with :func:`ivf_index` and probe through
    :func:`ivf_probe_topk`, which turns this full-table assignment
    scan into a partition-pruned read."""
    from pyspark.sql import functions as F
    cent = np.asarray(centroids, dtype=np.float64)
    probe = _probe_lists(query_vec, centroids, nprobe)
    e = emb_df.select(F.col(id_col),
                      _emb_double(F.col(emb_col)).alias("v"))
    assign = ivf_assign_udf(cent)
    e = e.withColumn("_list", assign(F.col("v"))) \
         .filter(F.col("_list").isin(probe))
    return _cosine_topk(e, query_vec, k, id_col)


def ivf_ann_topk_sql(centroids: "np.ndarray", k: int = 10,
                     nprobe: int = 2, table: str = "embeddings",
                     query_id: int = 0) -> str:
    """DuckDB twin: identical centroid literals, identical sequential
    distance sums, identical probe-list derivation."""
    cent = np.asarray(centroids, dtype=np.float64)
    assign = ivf_assign_sql("CAST(embedding AS DOUBLE[])", cent)
    qv = (f"(SELECT CAST(embedding AS DOUBLE[]) FROM {table} "
          f"WHERE vec_id = {query_id})")
    qassign_d = [f"{_sq_dist_sql(qv, cent[j])}" for j in range(len(cent))]
    # probe list computed the same way (argsort of query-centroid dists)
    # but as SQL we inline it via a rank over the same expressions
    probe_cte = " UNION ALL ".join(
        f"SELECT {j} AS list_id, {qassign_d[j]} AS d"
        for j in range(len(cent)))
    cos = (f"list_dot_product(CAST(embedding AS DOUBLE[]), {qv}) / "
           f"(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
           f"CAST(embedding AS DOUBLE[]))) * "
           f"sqrt(list_dot_product({qv}, {qv})))")
    return f"""
WITH qd AS ( {probe_cte} ),
probe AS (
  SELECT list_id FROM (
    SELECT list_id, ROW_NUMBER() OVER (ORDER BY d ASC, list_id ASC)
      AS rn FROM qd) WHERE rn <= {nprobe}
)
SELECT vec_id, ROUND({cos}, 6) AS sim
FROM {table}
WHERE {assign} IN (SELECT list_id FROM probe)
ORDER BY sim DESC, vec_id ASC LIMIT {k}
"""


def sign_bucket_col_offset(emb, n_bits: int, offset: int):
    """Sign bucket over dims [offset, offset + n_bits)."""
    from pyspark.sql import functions as F
    out = F.lit(0).cast("long")
    for i in range(n_bits):
        out = out + F.when(F.element_at(emb, offset + i + 1) > 0,
                           F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return out


def sign_bucket_sql_offset(emb_expr: str, n_bits: int, offset: int) -> str:
    terms = [f"CASE WHEN {emb_expr}[{offset + i + 1}] > 0 THEN "
             f"CAST({1 << i} AS BIGINT) ELSE 0 END"
             for i in range(n_bits)]
    return "(" + " + ".join(terms) + ")"


def lsh_ann_topk(emb_df, query_vec, k: int = 10, *,
                 id_col: str = "vec_id", emb_col: str = "embedding",
                 n_bits: int = 6, n_tables: int = 4):
    """Approximate top-k: standard multi-table LSH — candidates are the
    union over ``n_tables`` independent sign-bucket tables (table t uses
    dims [t*n_bits, (t+1)*n_bits)), ranked by exact cosine. Recall vs
    the brute-force baseline is measured in tests: high on genuinely
    correlated (near-dup) data, necessarily modest on isotropic noise —
    the candidate fraction is ~1-(1-2^-b)^L by construction."""
    import numpy as np
    from pyspark.sql import functions as F
    qv = [float(x) for x in query_vec]
    qn = float(np.sqrt(sum(v * v for v in qv)))
    e = emb_df.select(F.col(id_col),
                      _emb_double(F.col(emb_col)).alias("v"))
    cond = None
    for t in range(n_tables):
        off = t * n_bits
        qb = 0
        for i in range(n_bits):
            if qv[off + i] > 0:
                qb |= 1 << i
        c = (sign_bucket_col_offset(F.col("v"), n_bits, off)
             == F.lit(qb))
        cond = c if cond is None else (cond | c)
    e = e.filter(cond)
    dot = dot_lit_expr("v", qv)
    nv = F.sqrt(dot_cols_expr("v", "v", len(qv)))
    sim = F.round(dot / (nv * F.lit(qn)), 6)
    return (e.select(id_col, sim.alias("sim"))
            .orderBy(F.col("sim").desc(), F.col(id_col).asc())
            .limit(k))


def lsh_ann_topk_sql(k: int = 10, n_bits: int = 6, n_tables: int = 4,
                     table: str = "embeddings") -> str:
    qv = ("(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings "
          "WHERE vec_id = 0)")
    conds = []
    for t in range(n_tables):
        off = t * n_bits
        conds.append(
            f"({sign_bucket_sql_offset('CAST(embedding AS DOUBLE[])', n_bits, off)}"
            f" = {sign_bucket_sql_offset(qv, n_bits, off)})")
    where = " OR ".join(conds)
    cos = ("list_dot_product(CAST(embedding AS DOUBLE[]), "
           "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings "
           "WHERE vec_id = 0)) / "
           "(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
           "CAST(embedding AS DOUBLE[]))) * "
           "sqrt(list_dot_product((SELECT CAST(embedding AS DOUBLE[]) "
           "FROM embeddings WHERE vec_id = 0), "
           "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings "
           "WHERE vec_id = 0))))")
    return (f"SELECT vec_id, ROUND({cos}, 6) AS sim FROM {table} "
            f"WHERE {where} "
            f"ORDER BY sim DESC, vec_id ASC LIMIT {k}")


def semantic_dedup(emb_df, *, n_clusters: int = 8,
                   threshold: float = 0.95, dim: int = 64,
                   id_col: str = "vec_id", emb_col: str = "embedding"):
    """SemDeDup-style semantic dedup (Abbas et al. 2023 shape):
    coarse-cluster the embeddings, then drop every row whose cosine to
    a LOWER-id member of the same cluster reaches ``threshold``
    (greedy keep-lowest — one self-join, no iteration; the
    chain-transitive variant is dedup.dup_clusters' connected
    components). Returns the survivors as (id, cluster).

    Centroids are the ``n_clusters`` lowest-id embeddings —
    deterministic and oracle-expressible; production swaps in
    ivf_train's k-means centroids (same assign/dedup plan). Cosines
    are ROUND(.., 6) like lsh_near_dup so the threshold compare is
    stable under the cross-engine hash gate; assignment ties break on
    the lower centroid id.

    Plan shape at scale: assign = one broadcast nested-loop against
    n_clusters tiny centroid rows + a per-row row_number window (both
    map-side after one id-keyed shuffle); dedup = ONE cluster-bucketed
    self-join — never all-pairs across clusters. The self-join is
    O(sum cluster_size^2) worst case: at 10^12 rows raise n_clusters
    (real SemDeDup uses ~10^5) so cluster sizes stay bounded."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # the row norm is computed ONCE scan-side and carried through the
    # joins: a cosine inlined at each use is 3 unrolled dot products
    # (3*dim terms) — fused into the self-join stage that blew the
    # janino 64KB class limit (whole stage fell back to interpreted,
    # the r3 lesson); carrying the norm keeps every stage at one
    # dim-term dot. Bit-parity with the twin is unaffected: the float
    # ops are identical, only where they run changes.
    e = emb_df.select(F.col(id_col).cast("long").alias("_id"),
                      _emb_double(F.col(emb_col)).alias("_v")) \
        .withColumn("_n", F.sqrt(dot_cols_expr("_v", "_v", dim)))
    cents = (e.orderBy("_id").limit(n_clusters)
             .select(F.col("_id").alias("_cid"),
                     F.col("_v").alias("_cv"),
                     F.col("_n").alias("_cn")))
    cos_assign = F.round(dot_cols_expr("_v", "_cv", dim)
                         / (F.col("_n") * F.col("_cn")), 6)
    win = Window.partitionBy("_id").orderBy(
        F.col("_cos").desc(), F.col("_cid").asc())
    assigned = (e.crossJoin(F.broadcast(cents))
                .withColumn("_cos", cos_assign)
                .withColumn("_rn", F.row_number().over(win))
                .filter(F.col("_rn") == 1)
                .select("_id", "_cid", "_v", "_n"))
    a = assigned.select(F.col("_cid"), F.col("_id").alias("_ida"),
                        F.col("_v").alias("_va"),
                        F.col("_n").alias("_na"))
    b = assigned.select(F.col("_cid"), F.col("_id").alias("_idb"),
                        F.col("_v").alias("_vb"),
                        F.col("_n").alias("_nb"))
    cos_pair = F.round(dot_cols_expr("_va", "_vb", dim)
                       / (F.col("_na") * F.col("_nb")), 6)
    dropped = (a.join(b, "_cid")
               .filter(F.col("_ida") < F.col("_idb"))
               .filter(cos_pair >= threshold)
               .select(F.col("_idb").alias("_id")).distinct())
    return (assigned.join(dropped, "_id", "left_anti")
            .select(F.col("_id").alias(id_col),
                    F.col("_cid").alias("cluster")))


def semantic_dedup_sql(n_clusters: int = 8, threshold: float = 0.95,
                       table: str = "embeddings") -> str:
    """DuckDB twin of semantic_dedup — same centroid rule, same
    ROUND(cos, 6), same tie-break, same greedy lower-id drop."""
    cos = ("ROUND(list_dot_product({l}.v, {r}) / "
           "(sqrt(list_dot_product({l}.v, {l}.v)) * "
           "sqrt(list_dot_product({r}, {r}))), 6)")
    cos_assign = cos.format(l="e", r="c.cv")
    cos_pair = cos.format(l="x", r="b.v")
    return f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS id, CAST(embedding AS DOUBLE[]) AS v
  FROM {table}),
c AS (
  SELECT id AS cid, v AS cv FROM e ORDER BY id LIMIT {n_clusters}),
a AS (
  SELECT id, cid, v FROM (
    SELECT e.id, c.cid, e.v,
           ROW_NUMBER() OVER (PARTITION BY e.id
               ORDER BY {cos_assign} DESC, c.cid ASC) AS rn
    FROM e CROSS JOIN c)
  WHERE rn = 1),
dup AS (
  SELECT DISTINCT b.id FROM a x JOIN a b ON x.cid = b.cid
  WHERE x.id < b.id
    AND {cos_pair} >= {threshold})
SELECT a.id AS vec_id, a.cid AS cluster FROM a
WHERE NOT EXISTS (SELECT 1 FROM dup WHERE dup.id = a.id)
"""


# ---------------------------------------------------------------------------
# int8-quantized ANN: integer-dot candidate scan + exact rescore
# ---------------------------------------------------------------------------

def _int_dot_expr(v_ref: str, s_ref: str, qv) -> str:
    """Unrolled integer dot product between the int8-quantized row
    vector and the int8-quantized literal query: per dimension,
    code = floor(x / scale * 127 + 0.5) — floor-based half-up
    rounding, identical on every engine (ROUND() half-mode varies
    across engines; floor does not). All literals go through
    CAST('...' AS DOUBLE): a bare ``127.0`` parses as DECIMAL in
    Spark SQL and decimal promotion would diverge from DuckDB."""
    c127 = "CAST('127.0' AS DOUBLE)"
    half = "CAST('0.5' AS DOUBLE)"
    terms = []
    for i, q in enumerate(qv, start=1):
        d = (f"CAST(floor(element_at({v_ref}, {i}) / {s_ref} * {c127} "
             f"+ {half}) AS BIGINT)")
        ql = (f"CAST(floor(CAST('{float(q)!r}' AS DOUBLE) / {s_ref} "
              f"* {c127} + {half}) AS BIGINT)")
        terms.append(f"{d} * {ql}")
    return " + ".join(terms)


def qann_topk(emb_df, query_vec, k: int = 10, *, rescore_mult: int = 4,
              id_col: str = "vec_id", emb_col: str = "embedding"):
    """Scalar-quantized ANN: symmetric int8 codes (one global maxabs
    scale), integer-dot-product candidate scan, exact float rescore of
    the top ``k * rescore_mult`` candidates. The 100 TB story: int8
    codes are 4x smaller than float32 — the candidate scan reads a
    quarter of the bytes and the arithmetic is integer (exact, so the
    candidate ORDER is engine-independent: no float-comparison
    ambiguity until the tiny rescore set). At ingest the codes and the
    scale would be MATERIALIZED next to the table (the ivf_index
    pattern); here the scale is computed in-plan (one aggregate,
    broadcast back as a scalar) so the operator is self-contained.

    -> (vec_id, sim): same schema/ordering contract as ann_topk
    (round(cos,6) desc, id asc)."""
    import numpy as np
    from pyspark.sql import functions as F

    qv = [float(x) for x in query_vec]
    ev = emb_df.select(F.col(id_col),
                       _emb_double(F.col(emb_col)).alias("v"))
    s_df = ev.select(F.expr(
        "max(array_max(transform(v, x -> abs(x))))").alias("_s"))
    cand = (ev.crossJoin(F.broadcast(s_df))
            .select(id_col, "v",
                    F.expr(_int_dot_expr("v", "_s", qv)).alias("iscore"))
            .orderBy(F.col("iscore").desc(), F.col(id_col).asc())
            .limit(k * rescore_mult))
    qn = float(np.sqrt(sum(v * v for v in qv)))
    sim = F.round(dot_lit_fold(F.col("v"), qv)
                  / (norm_fold(F.col("v")) * F.lit(qn)), 6)
    return (cand.select(id_col, sim.alias("sim"))
            .orderBy(F.col("sim").desc(), F.col(id_col).asc())
            .limit(k))


def qann_topk_sql(k: int = 10, rescore_mult: int = 4,
                  table: str = "embeddings") -> str:
    """DuckDB twin of qann_topk: same scale aggregate, same unrolled
    floor-quantized integer dot, same exact rescore — the query vector
    is vec_id=0's embedding, spelled as a scalar subquery."""
    c127 = "CAST('127.0' AS DOUBLE)"
    half = "CAST('0.5' AS DOUBLE)"
    # the twin can't unroll against literal floats (the query vector
    # lives in the table) — element-wise list ops give the identical
    # arithmetic: floor per element, BIGINT multiply, sequential sum
    return f"""
WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM {table}),
s AS (SELECT MAX(list_max(list_transform(v, x -> abs(x)))) AS s
      FROM ev),
q AS (SELECT v AS qv FROM ev WHERE vec_id = 0),
coded AS (SELECT vec_id, v,
       list_sum(list_transform(generate_series(1, len(v)), i ->
         CAST(floor(v[i] / s * {c127} + {half}) AS BIGINT)
         * CAST(floor(qv[i] / s * {c127} + {half}) AS BIGINT)))
       AS iscore
       FROM ev, s, q),
cand AS (SELECT vec_id, v FROM coded
         ORDER BY iscore DESC, vec_id ASC LIMIT {k * rescore_mult})
SELECT vec_id, ROUND(list_dot_product(v, (SELECT qv FROM q))
       / (sqrt(list_dot_product(v, v))
          * sqrt(list_dot_product((SELECT qv FROM q),
                                  (SELECT qv FROM q)))), 6) AS sim
FROM cand ORDER BY sim DESC, vec_id ASC LIMIT {k}
"""


# ---------------------------------------------------------------------------
# kNN graph (all-vectors top-k) — the similarity-graph input for
# graph-based dedup/curation (SemDeDup clustering, NN-descent seeds)
# ---------------------------------------------------------------------------

def knn_graph(emb_df, k: int = 5, *, id_col: str = "vec_id",
              emb_col: str = "embedding", dim: int = 64,
              n_bits: int = 6, n_tables: int = 4,
              max_bucket: int = 1000):
    """Approximate kNN GRAPH: for every vector, its top-``k``
    most-cosine-similar neighbours among the vectors sharing at least
    one of ``n_tables`` sign-LSH buckets (table t buckets on dims
    [t*n_bits, (t+1)*n_bits)). -> (vec_id, nbr_id, sim, rank).

    This is the all-pairs sibling of lsh_ann_topk (one query vector)
    and lsh_near_dup (threshold pairs): the candidate structure is the
    same multi-table bucket self-join, but ranking is per-SOURCE
    top-k, so the output is the directed similarity graph
    curation pipelines feed into clustering/NN-descent.

    Scale shape: the only shuffles are (a) the (table, bkt) groupBy +
    self-join — bucket-count scales as 2^n_bits per table and
    ``max_bucket`` drops degenerate buckets (zero vectors, mass dups)
    before they go quadratic, exactly as in lsh_near_dup — and (b) the
    src-keyed row_number window that rides the final top-k. No
    all-pairs stage anywhere; recall grows with n_tables, selectivity
    with n_bits, both free of driver-side state. Exact cosine uses the
    interpreted sequential fold (bit-equal to the unrolled twin and to
    DuckDB's list_dot_product) because the candidate set is small
    relative to n^2 — the codegen-unroll tier only pays off on
    full-table scans (ANN_UNROLL_MIN_ROWS)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    if n_tables * n_bits > dim:
        # past-the-end element_at returns NULL and the sign test
        # silently folds to bit 0 — every vector would share one
        # degenerate bucket per overflowing table (recall loss with
        # no error), so reject the config up front
        raise ValueError(
            f"n_tables*n_bits = {n_tables * n_bits} sign bits exceed "
            f"the declared embedding dim {dim} (pass dim= to "
            f"knn_graph)")
    e = emb_df.select(F.col(id_col),
                      _emb_double(F.col(emb_col)).alias("v"))
    # ONE scan emits every (table, bucket) id via posexplode — the
    # lsh_near_dup idiom; a per-table unionByName would re-scan the
    # source n_tables times
    bt = e.select(
        id_col,
        F.posexplode(F.array(*[
            sign_bucket_col_offset(F.col("v"), n_bits, t * n_bits)
            for t in range(n_tables)])).alias("tbl", "bkt"))
    ok = bt.groupBy("tbl", "bkt").count().filter(
        (F.col("count") > 1) & (F.col("count") <= max_bucket))
    bt = bt.join(ok.select("tbl", "bkt"), ["tbl", "bkt"])
    cand = (bt.alias("l").join(bt.alias("r"), ["tbl", "bkt"])
            .filter(F.col(f"l.{id_col}") != F.col(f"r.{id_col}"))
            .select(F.col(f"l.{id_col}").alias("src"),
                    F.col(f"r.{id_col}").alias("nbr"))
            .distinct())
    a = e.select(F.col(id_col).alias("src"), F.col("v").alias("va"))
    b = e.select(F.col(id_col).alias("nbr"), F.col("v").alias("vb"))
    sim = F.round(cosine_col(F.col("va"), F.col("vb")), 6)
    scored = (cand.join(a, "src").join(b, "nbr")
              .select("src", "nbr", sim.alias("sim")))
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(),
                                          F.col("nbr").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("src").alias("vec_id"),
                    F.col("nbr").alias("nbr_id"), "sim",
                    F.col("rank").cast("int").alias("rank")))


def knn_graph_sql(k: int = 5, *, table: str = "embeddings",
                  n_bits: int = 6, n_tables: int = 4,
                  max_bucket: int = 1000) -> str:
    """DuckDB twin of knn_graph — identical sign buckets (same dims
    per table), identical bucket cap, identical rounded-cosine +
    nbr-asc ranking, so rows and ranks hash-match."""
    band_rows = []
    for t in range(n_tables):
        bkt = sign_bucket_sql_offset("v", n_bits, t * n_bits)
        band_rows.append(f"SELECT vec_id, {t} AS tbl, {bkt} AS bkt "
                         f"FROM e")
    bandt = " UNION ALL ".join(band_rows)
    cos = ("list_dot_product(av.v, bv.v) / "
           "(sqrt(list_dot_product(av.v, av.v)) * "
           "sqrt(list_dot_product(bv.v, bv.v)))")
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table}
), bandt AS ( {bandt} ),
bok AS (
  SELECT tbl, bkt FROM bandt GROUP BY tbl, bkt
  HAVING COUNT(*) > 1 AND COUNT(*) <= {max_bucket}
), bf AS (
  SELECT bandt.* FROM bandt JOIN bok USING (tbl, bkt)
), cand AS (
  SELECT DISTINCT l.vec_id AS src, r.vec_id AS nbr
  FROM bf l JOIN bf r ON l.tbl = r.tbl AND l.bkt = r.bkt
  WHERE l.vec_id <> r.vec_id
), scored AS (
  SELECT c.src, c.nbr, ROUND({cos}, 6) AS sim
  FROM cand c JOIN e av ON av.vec_id = c.src
              JOIN e bv ON bv.vec_id = c.nbr
), ranked AS (
  SELECT src, nbr, sim, ROW_NUMBER() OVER (
    PARTITION BY src ORDER BY sim DESC, nbr ASC) AS rank
  FROM scored
)
SELECT src AS vec_id, nbr AS nbr_id, sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


def semantic_clusters(emb_df, min_sim_ppm: int, *, k: int = 5,
                      id_col: str = "vec_id",
                      emb_col: str = "embedding", dim: int = 64,
                      n_bits: int = 6, n_tables: int = 4,
                      max_bucket: int = 1000, max_iters: int = 20,
                      algorithm: str = "minlabel"):
    """SemDeDup-shape semantic dedup: connected components over the
    kNN similarity graph's edges at cosine >= ``min_sim_ppm``/1e6 —
    vectors whose embeddings chain through high-similarity neighbours
    collapse to one cluster, and ``keep = 1`` marks the
    representative (minimum vec id), the row a curation pipeline
    retains. Every input vector is emitted (no qualifying edge ->
    its own singleton cluster, keep 1).

    The threshold compares INTEGER micro-cosine: knn_graph's sim is
    already rounded to 6 dp bit-identically in both engines, so
    ``round(sim * 1e6)`` is the same BIGINT on both sides and the
    gate can't ulp-flip. Scale shape: knn_graph's bucket self-join is
    the only candidate stage (no all-pairs), CC runs on the
    aggregate-sized edge list (<= k * n rows pre-filter) with the
    usual materialize()/convergence-raise contract; the final left
    join is id-keyed. -> (vec_id, cluster_id, keep)."""
    from pyspark.sql import functions as F

    from .dedup import connected_components
    g = knn_graph(emb_df, k, id_col=id_col, emb_col=emb_col, dim=dim,
                  n_bits=n_bits, n_tables=n_tables,
                  max_bucket=max_bucket)
    edges = (g.withColumn("_m", F.round(F.col("sim") * 1_000_000)
                          .cast("long"))
             .filter(F.col("_m") >= min_sim_ppm)
             .select(F.col("vec_id").alias("a"),
                     F.col("nbr_id").alias("b")))
    labels = connected_components(edges, a_col="a", b_col="b",
                                  max_iters=max_iters,
                                  algorithm=algorithm) \
        .select(F.col("doc_id").alias(id_col), F.col("cluster_id"))
    ids = emb_df.select(F.col(id_col))
    out = (ids.join(labels, id_col, "left")
           .select(id_col,
                   F.coalesce("cluster_id", F.col(id_col))
                   .alias("cluster_id")))
    return out.withColumn(
        "keep", F.when(F.col(id_col) == F.col("cluster_id"), 1)
        .otherwise(0).cast("int"))


def semantic_clusters_sql(min_sim_ppm: int, *, k: int = 5,
                          table: str = "embeddings",
                          n_bits: int = 6, n_tables: int = 4,
                          max_bucket: int = 1000) -> str:
    """DuckDB twin of semantic_clusters: knn_graph_sql as the edge
    source (identical buckets/rounding), symmetrized, recursive-CTE
    closure with cluster = LEAST(self, MIN(reachable))."""
    g = knn_graph_sql(k, table=table, n_bits=n_bits,
                      n_tables=n_tables, max_bucket=max_bucket)
    return f"""
WITH RECURSIVE g AS ( {g} ),
ed AS (SELECT vec_id AS a, nbr_id AS b FROM g
       WHERE CAST(ROUND(sim * 1000000, 0) AS BIGINT)
             >= {min_sim_ppm}),
edges AS (SELECT a AS u, b AS v FROM ed
          UNION SELECT b, a FROM ed),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
lbl AS (SELECT u AS vec_id, LEAST(u, MIN(v)) AS cluster_id
        FROM reach GROUP BY u)
SELECT t.vec_id, COALESCE(l.cluster_id, t.vec_id) AS cluster_id,
       CAST(CASE WHEN COALESCE(l.cluster_id, t.vec_id) = t.vec_id
            THEN 1 ELSE 0 END AS INT) AS keep
FROM (SELECT vec_id FROM {table}) t LEFT JOIN lbl l USING (vec_id)
"""
