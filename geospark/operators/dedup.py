"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard.

Design rule: every step is Spark BUILT-IN expressions (md5, conv,
transform, aggregate, explode + relational joins) — fully JVM-side,
whole-stage-codegen'd, no Python in the hot path at all. The hash
primitive is md5 (cross-engine deterministic: Spark, DuckDB oracle, and
Python agree byte-for-byte); at production scale swap HASH64 below for
xxhash64 (Spark-native, ~10x faster) — the structure is unchanged, only
the oracle needs md5.

Scale notes (10^12 docs): shingling + signatures are narrow map-side
work; the only shuffles are the LSH band groupBy (keyed by band hash —
uniform by construction) and the candidate-pair verify join. Band
buckets with pathological sizes (boilerplate pages) are handled by AQE
skew-join plus the bucket-size cap in ``lsh_candidate_pairs``.
"""

from __future__ import annotations

import hashlib

from ..materialize import materialize

TOKEN_RX = "[a-z0-9]+"


def _hash64_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def _hash64_col(c):
    from pyspark.sql import functions as F
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def perm_constants(n: int) -> list[int]:
    """Deterministic XOR-permutation constants (shared with the SQL
    twin): c_i = first 15 hex digits of md5('perm<i>')."""
    return [int(hashlib.md5(f"perm{i}".encode()).hexdigest()[:15], 16)
            for i in range(n)]


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df, text_col: str = "text", id_col: str = "doc_id"):
    """Keep the lowest-id representative of each exact-text group.
    Hash-groupBy on md5 — one shuffle keyed by digest (uniform)."""
    from pyspark.sql import functions as F
    return (df.withColumn("_h", F.md5(F.col(text_col)))
            .groupBy("_h").agg(F.min(id_col).alias(id_col))
            .join(df, id_col).drop("_h"))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def shingles_col(text_col: str, k: int):
    """Column expr: lowercase word-k-shingles (distinct), '' guard for
    short docs. Pure built-ins: regexp_extract_all + transform/slice."""
    from pyspark.sql import functions as F
    w = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RX), 0)
    n = F.size(w)
    return F.when(n >= k, F.array_distinct(F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(w, i, k))
    ))).otherwise(F.array().cast("array<string>"))


def shingles_sql(text_expr: str, k: int) -> str:
    return (f"list_distinct(list_transform(generate_series(1, "
            f"greatest(len(regexp_extract_all(lower({text_expr}), "
            f"'{TOKEN_RX}')) - {k - 1}, 0)), i -> array_to_string("
            f"(regexp_extract_all(lower({text_expr}), '{TOKEN_RX}'))"
            f"[i:i + {k - 1}], ' ')))")


def shingle_hashes(df, text_col: str = "text", id_col: str = "doc_id",
                   k: int = 4):
    """-> exploded (id, h) — one row per distinct shingle, h = 60-bit
    md5 prefix. The single md5 pass everything downstream shares.

    Perf note (measured at sf0.1): keeping shingle hashes inside array
    columns and folding with transform/aggregate lambdas is 10-30x
    slower than explode + flat aggregates — Spark's higher-order array
    functions are interpreted per element, while explode + groupBy
    aggregates ride whole-stage codegen and map-side combine."""
    from pyspark.sql import functions as F
    ex = df.select(F.col(id_col),
                   F.explode(shingles_col(text_col, k)).alias("_s"))
    return ex.select(id_col, _hash64_col(F.col("_s")).alias("h"))


def minhash_signature(df, text_col: str = "text", id_col: str = "doc_id",
                      n_hashes: int = 16, k: int = 4):
    """-> (id, sig array<long>[n_hashes]). sig_i = min over shingles of
    hash64(shingle) XOR c_i (XOR permutation family — exact in int64 on
    every engine; multiply-mod would overflow differently per engine).
    Computed as n_hashes flat MIN aggregates over the exploded shingle
    table (codegen + partial aggregation)."""
    from pyspark.sql import functions as F
    consts = perm_constants(n_hashes)
    sh = shingle_hashes(df, text_col, id_col, k)
    aggs = [F.min(F.col("h").bitwiseXOR(F.lit(c))).alias(f"_m{i}")
            for i, c in enumerate(consts)]
    g = sh.groupBy(id_col).agg(*aggs)
    return g.select(F.col(id_col),
                    F.array(*[F.col(f"_m{i}")
                              for i in range(n_hashes)]).alias("sig"))


def band_rows(sig_df, id_col: str = "doc_id", bands: int = 4,
              rows_per_band: int = 4):
    """Signature table -> exploded (id, band, bh) LSH band rows — the
    shared building block of pair generation (lsh_candidate_pairs)
    and incremental membership probes (batch_dedup_status)."""
    from pyspark.sql import functions as F
    b = sig_df.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.md5(F.concat_ws(",", *[
                         F.element_at("sig", i * rows_per_band + j + 1)
                         .cast("string")
                         for j in range(rows_per_band)])).alias("bh"))
            for i in range(bands)])).alias("band_key"))
    return b.select(id_col, "band_key.band", "band_key.bh")


def lsh_candidate_pairs(sig_df, id_col: str = "doc_id", bands: int = 4,
                        rows_per_band: int = 4,
                        max_bucket: int = 1000):
    """Signature table -> distinct candidate pairs (a < b) sharing at
    least one LSH band. ``max_bucket`` drops pathological buckets (mass
    boilerplate) so one bucket can't produce O(n^2) pairs on a single
    task — a bucket over the cap is removed by a filter in the plan.

    r6 shape (guide §2.4 — remove shuffles outright): ONE groupBy
    collects each bucket's whole id list (``collect_list``: unordered,
    uncapped), and the a < b pairs explode from the list in place, so
    no order is needed. The old shape paid three exchanges of the band
    table (bucket-size aggregate, the size-filter join back, the bucket
    self-join); the in-bucket pair volume is identical. ``max_bucket``
    filters only AFTER each list is built: it bounds the pairs exploded
    from a hot bucket, not the list itself, which is gathered in full
    in one aggregation buffer."""
    from pyspark.sql import functions as F
    b = band_rows(sig_df, id_col, bands, rows_per_band)
    buckets = (b.groupBy("band", "bh")
               .agg(F.collect_list(id_col).alias("_ids"))
               .filter((F.size("_ids") > 1)
                       & (F.size("_ids") <= max_bucket)))
    return (buckets
            .select(F.explode("_ids").alias("doc_a"), "_ids")
            .select("doc_a", F.explode("_ids").alias("doc_b"))
            .filter(F.col("doc_a") < F.col("doc_b"))
            .distinct())


def jaccard_verify(pairs, shashes, id_col: str = "doc_id",
                   threshold: float = 0.2):
    """Exact shingle-set Jaccard on candidate pairs (the refine step),
    over the shared exploded (id, h) table — the intersection join keys
    on a long, not a string. -> (doc_a, doc_b, jaccard rounded 6).

    r6 (guide §3.2): only docs that appear in a candidate pair matter,
    and candidates are a vanishing fraction of the corpus — a broadcast
    semi-join prunes the exploded shingle table BEFORE the per-doc
    counts and the intersection join, so the (doc, h) shuffle carries
    |candidate docs| x shingles instead of |corpus| x shingles.
    Per-doc counts are computed after the prune (identical values:
    pruning removes whole docs, never rows within a kept doc)."""
    from pyspark.sql import functions as F
    cand_docs = (pairs.select(F.col("doc_a").alias(id_col))
                 .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
                 .distinct())
    shashes = shashes.join(F.broadcast(cand_docs), id_col, "left_semi")
    ex = shashes.join(
        shashes.groupBy(id_col).agg(F.count(F.lit(1)).alias("n")), id_col)
    a = ex.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"),
                  "h")
    bb = ex.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"),
                   "h")
    inter = (pairs.join(a, "doc_a").join(bb, ["doc_b", "h"])
             .groupBy("doc_a", "doc_b", "na", "nb")
             .agg(F.count(F.lit(1)).alias("ni")))
    jac = F.round(F.col("ni").cast("double")
                  / (F.col("na") + F.col("nb") - F.col("ni")), 6)
    return (inter.select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def minhash_pairs(df, *, text_col: str = "text", id_col: str = "doc_id",
                  n_hashes: int = 16, k: int = 4, bands: int = 4,
                  threshold: float = 0.2, max_bucket: int = 1000):
    from pyspark.sql import functions as F
    consts = perm_constants(n_hashes)
    sh = shingle_hashes(df, text_col, id_col, k).persist()
    aggs = [F.min(F.col("h").bitwiseXOR(F.lit(c))).alias(f"_m{i}")
            for i, c in enumerate(consts)]
    sig = (sh.groupBy(id_col).agg(*aggs)
           .select(F.col(id_col),
                   F.array(*[F.col(f"_m{i}")
                             for i in range(n_hashes)]).alias("sig")))
    # r6: freeze the (tiny) candidate table — jaccard_verify consumes
    # it twice (the doc-prune broadcast and the intersection join), and
    # without the checkpoint each consumer would re-run the whole LSH
    # band self-join
    from ..materialize import materialize
    cand = materialize(lsh_candidate_pairs(
        sig, id_col, bands, n_hashes // bands, max_bucket=max_bucket))
    return jaccard_verify(cand, sh, id_col, threshold)


def minhash_pairs_sql(n_hashes: int = 16, k: int = 4, bands: int = 4,
                      threshold: float = 0.2,
                      table: str = "documents",
                      max_bucket: int = 1000) -> str:
    """DuckDB twin of minhash_pairs (identical hashes, bands, verify,
    and the same ``max_bucket`` bucket-size cap — without it the Spark
    result would silently diverge from the oracle on data with a
    pathological bucket)."""
    consts = perm_constants(n_hashes)
    rpb = n_hashes // bands
    sig_exprs = ", ".join(
        f"list_min(list_transform(hs, h -> xor(h, {c}))) AS s{i}"
        for i, c in enumerate(consts))
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, md5(concat_ws(',', "
        + ", ".join(f"CAST(s{i * rpb + j} AS VARCHAR)"
                    for j in range(rpb))
        + ")) AS bh FROM sigs"
        for i in range(bands))
    return f"""
WITH sh AS (
  SELECT doc_id, {shingles_sql('text', k)} AS shingles FROM {table}
), shf AS (
  SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0
), hsh AS (
  SELECT doc_id,
         list_transform(shingles,
                        s -> {_hash64_sql('s')}) AS hs,
         len(shingles) AS n FROM shf
), sigs AS (
  SELECT doc_id, n, {sig_exprs} FROM hsh
), bandt AS ( {band_rows} ),
bok AS (
  SELECT band, bh FROM bandt GROUP BY band, bh
  HAVING COUNT(*) > 1 AND COUNT(*) <= {max_bucket}
), bf AS (
  SELECT bandt.* FROM bandt JOIN bok USING (band, bh)
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bf l JOIN bf r ON l.band = r.band AND l.bh = r.bh
  WHERE l.doc_id < r.doc_id
), ex AS (
  SELECT doc_id, n, unnest(hs) AS h FROM hsh
), inter AS (
  SELECT c.doc_a, c.doc_b, a.n AS na, b.n AS nb, COUNT(*) AS ni
  FROM cand c JOIN ex a ON a.doc_id = c.doc_a
              JOIN ex b ON b.doc_id = c.doc_b AND b.h = a.h
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       ROUND(CAST(ni AS DOUBLE) / (na + nb - ni), 6) AS jaccard
FROM inter
WHERE ROUND(CAST(ni AS DOUBLE) / (na + nb - ni), 6) >= {threshold}
"""


# ---------------------------------------------------------------------------
# passage-level (chunk) dedup: boilerplate detection
# ---------------------------------------------------------------------------

def chunks_col(text_col: str, k: int):
    """Column expr: non-overlapping k-word passages (lowercased) — the
    passage unit for cross-document boilerplate detection. Pure
    built-ins, same slice trick as shingles_col."""
    from pyspark.sql import functions as F
    w = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RX), 0)
    n_chunks = F.floor(F.size(w) / k).cast("int")
    return F.when(n_chunks >= 1, F.transform(
        F.sequence(F.lit(1), n_chunks),
        lambda i: F.concat_ws(" ", F.slice(w, (i - 1) * k + 1, k))
    )).otherwise(F.array().cast("array<string>"))


def chunks_sql(text_expr: str, k: int) -> str:
    words = f"regexp_extract_all(lower({text_expr}), '{TOKEN_RX}')"
    return (f"list_transform(generate_series(1, "
            f"CAST(floor(len({words}) / {k}) AS BIGINT)), "
            f"i -> array_to_string({words}"
            f"[(i - 1) * {k} + 1:(i - 1) * {k} + {k}], ' '))")


def boilerplate_stats(df, text_col: str = "text", id_col: str = "doc_id",
                      k: int = 8):
    """Cross-document passage dedup -> per-doc boilerplate signal:
    (doc_id, n_chunks, n_dup_chunks, boiler_frac) where a chunk is
    'dup' if the identical k-word passage occurs in MORE THAN ONE
    distinct document — the curation feature that catches shared
    headers/footers/templated text that document-level dedup misses.

    Shape at scale: explode chunks (map-side), one groupBy keyed by
    chunk md5 (uniform) to count distinct docs per passage, join back,
    one per-doc aggregate — all codegen'd built-ins, no UDF."""
    from pyspark.sql import functions as F
    ch = (df.select(F.col(id_col),
                    F.explode(chunks_col(text_col, k)).alias("_c"))
          .select(id_col, F.md5(F.col("_c")).alias("_h"))
          .distinct())
    df_counts = ch.groupBy("_h").agg(
        F.countDistinct(id_col).alias("_nd"))
    per_doc = (ch.join(df_counts, "_h")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_chunks"),
                    F.sum(F.when(F.col("_nd") > 1, 1).otherwise(0))
                    .alias("n_dup_chunks")))
    # docs too short to have any chunk still appear, with zeros
    base = df.select(F.col(id_col)).distinct()
    return (base.join(per_doc, id_col, "left")
            .select(id_col,
                    F.coalesce("n_chunks", F.lit(0)).cast("long")
                    .alias("n_chunks"),
                    F.coalesce("n_dup_chunks", F.lit(0)).cast("long")
                    .alias("n_dup_chunks"),
                    F.round(F.coalesce("n_dup_chunks", F.lit(0))
                            / F.greatest(F.coalesce("n_chunks",
                                                    F.lit(0)),
                                         F.lit(1)), 6)
                    .alias("boiler_frac")))


def boilerplate_stats_sql(docs_sql: str, k: int = 8) -> str:
    """DuckDB twin of boilerplate_stats over ``docs_sql`` (a SELECT
    producing doc_id, text)."""
    return f"""
WITH docs AS ({docs_sql}),
ch AS (
  SELECT DISTINCT doc_id, md5(c) AS h
  FROM (SELECT doc_id, unnest({chunks_sql('text', k)}) AS c FROM docs)
),
dc AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY h),
per_doc AS (
  SELECT ch.doc_id, COUNT(*) AS n_chunks,
         SUM(CASE WHEN dc.nd > 1 THEN 1 ELSE 0 END) AS n_dup_chunks
  FROM ch JOIN dc USING (h) GROUP BY ch.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(COALESCE(n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
       ROUND(COALESCE(n_dup_chunks, 0)
             / GREATEST(COALESCE(n_chunks, 0), 1), 6) AS boiler_frac
FROM (SELECT DISTINCT doc_id FROM docs) d LEFT JOIN per_doc USING (doc_id)
"""


# ---------------------------------------------------------------------------
# duplicate clustering: connected components over near-dup pairs
# ---------------------------------------------------------------------------

def connected_components(pairs, *, a_col: str = "doc_a",
                         b_col: str = "doc_b", max_iters: int = 20,
                         algorithm: str = "minlabel"):
    """Near-dup pairs -> (doc_id, cluster_id) with cluster_id = the
    minimum doc id in the component — the step that turns pairwise
    near-dup output into dedup groups (keep cluster_id, drop the rest).

    ``algorithm``:
      * "minlabel" (default) — each round every node takes the minimum
        label among itself and its neighbors; converges in
        diameter(component) rounds. Near-dup clusters are shallow
        (near-dup is close to transitive), so this is 2-4 rounds in
        practice; each round is one equi-join + one groupBy (both keyed
        by node id — Catalyst/AQE handle skew).
      * "star" — alternating large-star/small-star (Kiveris et al.,
        "Connected Components in MapReduce and Beyond", 2014):
        O(log n) rounds regardless of diameter — the slot-in for
        adversarial long-chain graphs where minlabel's
        rounds=diameter blows the iteration budget.

    Both paths RAISE on non-convergence within ``max_iters`` instead of
    silently returning partial (wrong) labels — an unconverged
    minlabel run on a >max_iters-hop chain would otherwise diverge
    from the transitive-closure oracle with no signal.
    """
    from pyspark.sql import functions as F
    e = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    # materialize() (eager) rather than persist: iterative algorithms
    # grow the logical plan one join per round, and Catalyst re-analyzes
    # the WHOLE lineage each iteration — O(rounds^2) driver time without
    # truncation (measured: a 15-round graph went from minutes to
    # seconds). spark.geospark.reliableCheckpoint=true swaps every site
    # to checkpoint() so a cluster run survives executor loss.
    if algorithm == "star":
        return _cc_star(e, max_iters)
    if algorithm != "minlabel":
        raise ValueError(f"algorithm={algorithm!r}")
    edges = materialize(e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))))
    labels = materialize(
        edges.select("u").distinct()
        .select(F.col("u").alias("id"), F.col("u").alias("lbl")))
    changed = -1
    for _ in range(max_iters):
        nbr_min = (edges.join(labels, edges["v"] == labels["id"])
                   .groupBy("u").agg(F.min("lbl").alias("nlbl")))
        new_labels = (labels.join(nbr_min,
                                  labels["id"] == nbr_min["u"], "left")
                      .select(F.col("id"),
                              F.least(F.col("lbl"),
                                      F.coalesce(F.col("nlbl"),
                                                 F.col("lbl")))
                              .alias("lbl")))
        new_labels = materialize(new_labels)
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
                   .filter(F.col("n.lbl") != F.col("o.lbl")).count())
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components(minlabel) did not converge in "
            f"{max_iters} rounds (graph diameter > max_iters); rerun "
            f"with algorithm='star' (O(log n) rounds) or a larger "
            f"max_iters")
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("lbl").alias("cluster_id"))


def _cc_star(e, max_iters: int):
    """Alternating large-star/small-star connected components.

    One round = large-star then small-star, each a groupBy(min) + join
    over the edge set; the edge set contracts toward a star forest
    rooted at each component's minimum node in O(log n) rounds. Edges
    are kept canonically directed (u > v) between rounds; convergence =
    the canonical edge set is unchanged by a round (checked with two
    anti-joins, not assumed)."""
    from pyspark.sql import functions as F

    def canon(df):
        return df.select(
            F.greatest("u", "v").alias("u"),
            F.least("u", "v").alias("v")).filter(
                F.col("u") != F.col("v")).distinct()

    def large_star(edges):
        # neighborhoods of the undirected graph; for each u emit
        # (v, min(N(u) ∪ {u})) for strictly larger neighbors v
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mn = (sym.groupBy("u")
              .agg(F.least(F.min("v"), F.first("u")).alias("m")))
        return (sym.join(mn, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v")))

    def small_star(edges):
        # edges arrive canonical (u > v): group the smaller neighbors
        # under u; emit (x, m) for x in N(u) ∪ {u}, x != m
        mn = (edges.groupBy("u")
              .agg(F.least(F.min("v"), F.first("u")).alias("m")))
        nbr = (edges.join(mn, "u")
               .select(F.col("v").alias("x"), F.col("m")))
        slf = mn.select(F.col("u").alias("x"), F.col("m"))
        return (nbr.unionByName(slf)
                .filter(F.col("x") != F.col("m"))
                .select(F.col("x").alias("u"), F.col("m").alias("v")))

    edges = materialize(canon(e))
    nodes = materialize(
        e.select("u").unionByName(e.select(F.col("v").alias("u")))
        .distinct())
    converged = False
    for _ in range(max_iters):
        new_edges = materialize(
            canon(small_star(canon(large_star(edges)))))
        grew = new_edges.join(edges, ["u", "v"], "left_anti").count()
        shrank = edges.join(new_edges, ["u", "v"], "left_anti").count()
        edges = new_edges
        if grew == 0 and shrank == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components(star) did not converge in "
            f"{max_iters} rounds")
    # star forest: every non-root points at its component min (the
    # trailing groupBy is a no-op on a true star; it guards against a
    # node carrying two edges so output row-identity is unconditional)
    return (nodes.join(edges, "u", "left")
            .select(F.col("u").alias("doc_id"),
                    F.coalesce("v", "u").alias("cluster_id"))
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id")))


def dup_clusters_sql(pairs_sql: str) -> str:
    """DuckDB twin: transitive closure via recursive CTE, component id
    = min reachable node (including self)."""
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
FROM reach GROUP BY u
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(df, text_col: str = "text", id_col: str = "doc_id"):
    """-> (id, simhash long). Bit b of the signature is the sign of
    sum over distinct words of (bit b of hash64(word) ? +1 : -1).
    Explode + one groupBy with 32 flat SUM aggregates — all map-side
    combinable, no UDF."""
    from pyspark.sql import functions as F
    w = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(TOKEN_RX), 0))).alias("w"))
    w = w.withColumn("h", _hash64_col(F.col("w")))
    aggs = [F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1)) * 2 - 1)
            .alias(f"b{b}") for b in range(SIMHASH_BITS)]
    g = w.groupBy(id_col).agg(*aggs)
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{b}") > 0,
                      F.lit(1 << b).cast("long")).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return g.select(id_col, sig.alias("simhash"))


def simhash_sql(table: str = "documents") -> str:
    terms = []
    for b in range(SIMHASH_BITS):
        terms.append(
            f"CASE WHEN SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 "
            f"ELSE -1 END) > 0 THEN CAST({1 << b} AS BIGINT) "
            f"ELSE 0 END")
    return f"""
WITH w AS (
  SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text),
         '{TOKEN_RX}'))) AS w FROM {table}
), h AS (
  SELECT doc_id, {_hash64_sql('w')} AS h FROM w
)
SELECT doc_id, ({' + '.join(terms)}) AS simhash FROM h GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# character n-gram Jaccard (within-source blocking)
# ---------------------------------------------------------------------------

def _gram_pair_counts(df, *, n: int, block_col: str, id_col: str,
                      text_col: str, max_df: int,
                      log_drops: bool = False,
                      broadcast_sizes: bool = True):
    """Shared blocked char-n-gram pair intersection for ngram_pairs /
    containment_pairs — ONE gram extraction, ONE max_df stopword-gram
    guard, ONE (blk, gram) self-join, so the two consumers and their
    SQL twins can't drift. -> (doc_a, doc_b, na, nb, ni) with
    doc_a < doc_b: per-doc kept-gram counts and the exact
    intersection size over the kept-gram universe."""
    from pyspark.sql import functions as F
    # F.substring needs a literal pos; bind the lambda var via expr
    grams = F.array_distinct(F.expr(
        f"transform(sequence(1, greatest(length(lower({text_col})) "
        f"- {n - 1}, 0)), i -> substring(lower({text_col}), i, {n}))"))
    base = df.select(F.col(id_col), F.col(block_col).alias("blk"),
                     F.col(text_col))
    # gram extraction is the heaviest NARROW op in the chain; a
    # single-file local scan would run it on one core. Spreading the
    # raw text is one small exchange; on a real many-file table the
    # scan is already wider than the core count and this is skipped.
    par = df.sparkSession.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < par:
        base = base.repartition(par)
    g = base.select(F.col(id_col), F.col("blk"), grams.alias("grams"))
    ex = g.select(id_col, "blk", F.explode("grams").alias("g"))
    # ONE explicit (blk, g) exchange parallelizes the whole chain:
    # dfreq's groupBy, the df-filter join and the final self-join all
    # key on (blk, g) and reuse this partitioning exchange-free. The
    # stream is CPU-bound on byte-tiny rows, so AQE's byte-based
    # coalescing would otherwise run every stage 1-2 tasks wide.
    ex = ex.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "blk", "g")
    dfreq = ex.groupBy("blk", "g").agg(F.count(F.lit(1)).alias("_df"))
    if log_drops:
        import logging
        n_drop = dfreq.filter(F.col("_df") > max_df).count()
        logging.getLogger(__name__).warning(
            "ngram_pairs: dropped %d (block, gram) keys with df > %d",
            n_drop, max_df)
    kept = ex.join(dfreq.filter(F.col("_df") <= max_df)
                   .select("blk", "g"), ["blk", "g"])
    # sizes is a doc-sized aggregate (map-side combine shrinks the
    # gram stream before the exchange); BROADCASTING it back avoids
    # re-shuffling the full gram stream by doc_id and keeps the
    # (blk, g) partitioning intact for the self-join. Broadcast has
    # a hard ceiling (Spark's 8GB broadcast-table limit / driver
    # memory — roughly 10^8-10^9 docs): past it, pass
    # broadcast_sizes=False to take the doc-keyed shuffle join
    # instead of a runtime failure.
    sizes = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("ng"))
    if broadcast_sizes:
        sizes = F.broadcast(sizes)
    kept = kept.join(sizes, id_col)
    a = kept.select(F.col(id_col).alias("doc_a"), F.col("ng").alias("na"),
                    "blk", "g")
    b = kept.select(F.col(id_col).alias("doc_b"), F.col("ng").alias("nb"),
                    "blk", "g")
    return (a.join(b, ["blk", "g"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b", "na", "nb")
            .agg(F.count(F.lit(1)).alias("ni")))


def _gram_pairs_body_sql(n: int, table: str, max_df: int) -> str:
    """DuckDB twin of _gram_pair_counts as a WITH-body fragment
    ending in `inter(doc_a, doc_b, na, nb, ni)` — composed by
    ngram_pairs_sql and containment_pairs_sql."""
    return f"""g AS (
  SELECT doc_id, source AS blk,
         list_distinct(list_transform(generate_series(1,
             greatest(length(lower(text)) - {n - 1}, 0)),
             i -> substring(lower(text), i, {n}))) AS grams
  FROM {table}
), ex AS (
  SELECT doc_id, blk, unnest(grams) AS g FROM g
), kept AS (
  SELECT ex.* FROM ex JOIN (
    SELECT blk, g FROM ex GROUP BY blk, g HAVING COUNT(*) <= {max_df}
  ) ok USING (blk, g)
), sized AS (
  SELECT kept.*, ng FROM kept JOIN (
    SELECT doc_id, COUNT(*) AS ng FROM kept GROUP BY doc_id
  ) s USING (doc_id)
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ng AS na, b.ng AS nb,
         COUNT(*) AS ni
  FROM sized a JOIN sized b ON a.blk = b.blk AND a.g = b.g
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)"""


def ngram_pairs(df, *, n: int = 3, block_col: str = "source",
                id_col: str = "doc_id", text_col: str = "text",
                threshold: float = 0.35, max_df: int = 100,
                log_drops: bool = False):
    """Char-n-gram Jaccard near-dup pairs, blocked by ``block_col``
    (at web scale the block is a cheap partition key — domain, language,
    length bucket — keeping the pair space linear-ish).

    ``max_df`` is the stopword-gram guard: a gram shared by more than
    ``max_df`` docs within a block (boilerplate — nav text, footers)
    would fan the (blk, g) self-join out quadratically on one key, so
    high-df grams are dropped from the gram universe (per-doc gram
    counts are recomputed over kept grams; the Jaccard is exact over
    that universe). ``log_drops=True`` runs one extra counting job and
    logs how many (blk, gram) keys were dropped — coverage caps are
    never silent."""
    from pyspark.sql import functions as F
    inter = _gram_pair_counts(df, n=n, block_col=block_col,
                              id_col=id_col, text_col=text_col,
                              max_df=max_df, log_drops=log_drops)
    jac = F.round(F.col("ni").cast("double")
                  / (F.col("na") + F.col("nb") - F.col("ni")), 6)
    return (inter.select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def ngram_pairs_sql(n: int = 3, threshold: float = 0.35,
                    table: str = "documents", max_df: int = 100) -> str:
    """DuckDB twin of ngram_pairs, including the ``max_df`` gram cap
    (kept-gram universe, per-doc counts recomputed over kept grams)."""
    return f"""
WITH {_gram_pairs_body_sql(n, table, max_df)}
SELECT doc_a, doc_b,
       ROUND(CAST(ni AS DOUBLE) / (na + nb - ni), 6) AS jaccard
FROM inter
WHERE ROUND(CAST(ni AS DOUBLE) / (na + nb - ni), 6) >= {threshold}
"""


# ---------------------------------------------------------------------------
# URL canonicalization dedup (web-curation tier)
# ---------------------------------------------------------------------------

# canonicalization policy, applied in order (documented contract):
#   1. strip fragment, then query string (tracking params live there)
#   2. lowercase the scheme://host prefix (path case is preserved)
#   3. http -> https, strip a leading www.
#   4. strip trailing slashes
# Every regexp is ANCHORED so it matches at most once: Spark's
# regexp_replace replaces ALL matches while DuckDB's 3-arg form
# replaces the FIRST — anchoring makes the two semantics coincide, and
# no backreferences are used (Spark writes $1, DuckDB \1).
_URL_PRE = (("#.*$", ""), ("\\?.*$", ""))
_URL_POST = (("^http://", "https://"),
             ("^https://www\\.", "https://"),
             ("/+$", ""))
_URL_HEAD_RX = "^[A-Za-z][A-Za-z0-9+.-]*://[^/]*"


def canonical_url(col):
    """Column expr: canonical form of a URL column (policy above).
    Pure built-ins — rides whole-stage codegen, no UDF."""
    from pyspark.sql import functions as F
    c = col
    for p, r in _URL_PRE:
        c = F.regexp_replace(c, p, r)
    head = F.lower(F.regexp_extract(c, _URL_HEAD_RX, 0))
    tail = c.substr(F.length(F.regexp_extract(c, _URL_HEAD_RX, 0))
                    + F.lit(1), F.lit(1 << 20))
    c = F.concat(head, tail)
    for p, r in _URL_POST:
        c = F.regexp_replace(c, p, r)
    return c


def canonical_url_sql(expr: str) -> str:
    """DuckDB twin of canonical_url over SQL fragment ``expr`` —
    generated from the SAME step tables, so the two engines transform
    identically by construction."""
    c = expr
    for p, r in _URL_PRE:
        c = f"regexp_replace({c}, '{p}', '{r}')"
    head = f"lower(regexp_extract({c}, '{_URL_HEAD_RX}', 0))"
    tail = (f"substr({c}, length(regexp_extract({c}, "
            f"'{_URL_HEAD_RX}', 0)) + 1)")
    c = f"concat({head}, {tail})"
    for p, r in _URL_POST:
        c = f"regexp_replace({c}, '{p}', '{r}')"
    return c


def url_dedup(df, *, url_col: str = "url", id_col: str = "doc_id"):
    """Exact dedup on the CANONICAL url: one row per canonical key with
    the kept (lowest) id and the duplicate count. The web-pipeline
    complement of text-hash dedup — catches http/https, www, query-
    string and trailing-slash variants of the same page. One uniform
    string-keyed shuffle; at 10^12 rows swap the groupBy key for
    xxhash64(canon) to cut shuffle bytes (same contract as
    exact_dedup)."""
    from pyspark.sql import functions as F
    return (df.withColumn("_canon", canonical_url(F.col(url_col)))
            .groupBy(F.col("_canon").alias("url"))
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("n_dups")))


# ---------------------------------------------------------------------------
# benchmark decontamination (train/test overlap)
# ---------------------------------------------------------------------------

def _word_ngrams_expr(words_col: str, n: int) -> str:
    """Distinct word-``n``-grams (space-joined) over an ALREADY
    extracted words-array column — the shared shingle definition for
    decontaminate (Spark side). The short-doc guard matters: Spark's
    ``sequence(1, 0)`` is the DESCENDING ``[1, 0]`` (DuckDB's
    ``generate_series(1, 0)`` is empty) and ``slice(w, 0, n)``
    throws, so fewer-than-``n``-word docs must short-circuit to an
    empty array explicitly."""
    w = words_col
    return (f"array_distinct(if(size({w}) < {n}, "
            f"array() , "
            f"transform(sequence(1, size({w}) - {n - 1}), "
            f"i -> concat_ws(' ', slice({w}, i, {n})))))")


def decontaminate(docs, bench, *, n: int = 4, id_col: str = "doc_id",
                  text_col: str = "text"):
    """Benchmark n-gram decontamination: flag training documents that
    contain any word-``n``-gram appearing in the (small) benchmark
    set — the standard train/test-overlap filter in LLM data pipelines
    (GPT-3 used 13-grams, Llama-style filters 8-grams; the default 4
    suits the short synthetic corpus and is a parameter, not policy).

    -> (doc_id, n_hits): one row per CONTAMINATED doc with the number
    of DISTINCT benchmark n-grams it contains; clean docs are absent
    (anti-join against this result to keep the clean set).

    Scale: the benchmark gram universe is tiny by definition
    (benchmarks are ~10^5 docs, not 10^12) — broadcast it; the corpus
    side is one explode + map-side-combined count, no shuffle of text
    bytes, no UDF anywhere. Words are extracted ONCE per row into an
    array column; the gram transform reuses it."""
    from pyspark.sql import functions as F

    def grams(frame, *cols):
        words = F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(TOKEN_RX), 0)
        return (frame.select(*cols, words.alias("_w"))
                .select(*cols,
                        F.explode(F.expr(_word_ngrams_expr("_w", n)))
                        .alias("g")))

    bg = grams(bench).distinct()
    dg = grams(docs, id_col)
    return (dg.join(F.broadcast(bg), "g")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hits")))


def decontaminate_sql(n: int = 4, bench_pred: str = "doc_id % 41 = 0",
                      table: str = "documents") -> str:
    """DuckDB twin of decontaminate with the benchmark set carved out
    of the same table by ``bench_pred`` (the query wrapper uses the
    complement as the corpus)."""
    wl = f"regexp_extract_all(lower(text), '{TOKEN_RX}')"
    grams = (f"list_distinct(list_transform(generate_series(1, "
             f"greatest(len({wl}) - {n - 1}, 0)), "
             f"i -> array_to_string(list_slice({wl}, i, i + {n - 1}), ' ')))")
    return f"""
WITH g AS (SELECT doc_id, {grams} AS grams FROM {table}),
bg AS (SELECT DISTINCT unnest(grams) AS g FROM g WHERE {bench_pred}),
dg AS (SELECT doc_id, unnest(grams) AS g FROM g
       WHERE NOT ({bench_pred}))
SELECT doc_id, COUNT(*) AS n_hits FROM dg JOIN bg USING (g) GROUP BY 1
"""


# ---------------------------------------------------------------------------
# cross-document repeated-substring spans (exact substring dedup)
# ---------------------------------------------------------------------------

def dup_spans(df, *, k: int = 8, id_col: str = "doc_id",
              text_col: str = "text"):
    """Exact-substring duplicate SPANS: maximal word runs that appear
    at two or more (doc, position) sites corpus-wide — the span-level
    output of suffix-array substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"), re-expressed for
    Spark as overlapping-shingle marking + gaps-and-islands merging
    instead of a suffix array (which needs a global sort over every
    byte of the corpus).

    -> (doc_id, span_start, span_words): 1-based word index of each
    maximal duplicated run and its length in words; a position is
    duplicated when its k-word shingle occurs at >= 2 sites anywhere
    (cross- OR within-document), and consecutive duplicated starts
    merge into one span covering run + k - 1 words.

    Shape at scale: the shingle explode is map-side (k-word window,
    stride 1); ONE md5-keyed groupBy finds repeated shingles (uniform
    key, no skew); the dup-set join back is hash-keyed on the digest —
    NOT broadcast, the dup universe grows with the corpus; the island
    merge is a per-document window (no global ordering anywhere).
    Text bytes never shuffle: positions travel with a 15-hex-digit
    digest only."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RX), 0)
    n = F.size(w)
    sh = F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            F.md5(F.concat_ws(" ", F.slice(w, i, k))).alias("h"))
    )).otherwise(F.array().cast("array<struct<pos:bigint,h:string>>"))

    pos = (df.select(F.col(id_col), F.explode(sh).alias("s"))
           .select(id_col, F.col("s.pos").alias("pos"),
                   F.col("s.h").alias("h")))
    dup = (pos.groupBy("h").agg(F.count(F.lit(1)).alias("_n"))
           .filter(F.col("_n") > 1).select("h"))
    marked = pos.join(dup, "h").select(id_col, "pos")
    rn = F.row_number().over(
        Window.partitionBy(id_col).orderBy("pos"))
    isl = marked.withColumn("_grp", F.col("pos") - rn)
    return (isl.groupBy(id_col, "_grp")
            .agg(F.min("pos").alias("span_start"),
                 (F.count(F.lit(1)) + F.lit(k - 1)).alias("span_words"))
            .select(id_col, "span_start", "span_words"))


def dup_spans_sql(k: int = 8, table: str = "documents") -> str:
    """DuckDB twin of dup_spans (same shingle/merge definitions)."""
    return f"""
WITH docs AS (SELECT doc_id,
              regexp_extract_all(lower(text), '{TOKEN_RX}') AS w
              FROM {table}),
sh AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
              md5(array_to_string(w[i:i + {k - 1}], ' ')) AS h
       FROM docs,
            UNNEST(generate_series(1, greatest(len(w) - {k - 1}, 0)))
            AS t(i)),
dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) > 1),
m AS (SELECT doc_id, pos FROM sh JOIN dup USING (h)),
isl AS (SELECT doc_id, pos,
        pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
        AS grp FROM m)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       COUNT(*) + {k - 1} AS span_words
FROM isl GROUP BY doc_id, grp
"""


def split_assign(id_col: str, train_pct: int = 90):
    """Deterministic train/val split assignment Column: 'train' iff
    md5(id) mod 100 < train_pct — the standard random holdout, keyed
    on the stable cross-engine md5-prefix hash (same convention as
    doc_sample/stratified_sample) so both engines and every rerun
    agree. Map-only; no shuffle."""
    from pyspark.sql import functions as F
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15),
               16, 10).cast("long")
    return (F.when(h % 100 < train_pct, F.lit("train"))
            .otherwise(F.lit("val")))


def split_assign_sql(id_expr: str, train_pct: int = 90) -> str:
    """DuckDB twin of split_assign (identical md5-prefix arithmetic)."""
    h = (f"CAST(('0x' || substr(md5(CAST({id_expr} AS VARCHAR)), 1, 15))"
         f" AS BIGINT)")
    return (f"CASE WHEN {h} % 100 < {train_pct} "
            f"THEN 'train' ELSE 'val' END")


def host_dup_stats(df, host, *, text_col: str = "text", k: int = 8):
    """Cross-host passage duplication per host — the mirror-site /
    shared-template detector: a k-word chunk is 'shared' when the
    identical passage appears on MORE THAN ONE distinct host, and each
    host reports how much of its distinct-chunk inventory is shared.
    ``host`` is a Column computing the host key in the same scan as
    the text (no self-join).

    Scale: distinct (host, digest) after the chunk explode -> one
    digest-keyed countDistinct(host) -> digest join back -> host agg;
    text bytes never cross a shuffle (16-byte digests do).
    -> (host, n_chunks, n_shared_chunks)."""
    from pyspark.sql import functions as F
    ch = (df.select(host.alias("host"),
                    F.explode(chunks_col(text_col, k)).alias("_c"))
          .select("host", F.md5(F.col("_c")).alias("_h"))
          .distinct())
    hc = ch.groupBy("_h").agg(F.countDistinct("host").alias("_nh"))
    return (ch.join(hc, "_h").groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum(F.when(F.col("_nh") > 1, 1).otherwise(0))
                 .cast("long").alias("n_shared_chunks")))


def host_dup_stats_sql(docs_sql: str, k: int = 8) -> str:
    """DuckDB twin of host_dup_stats over ``docs_sql`` (a SELECT
    producing host, text)."""
    return f"""
WITH docs AS ({docs_sql}),
ch AS (
  SELECT DISTINCT host, md5(c) AS h
  FROM (SELECT host, unnest({chunks_sql('text', k)}) AS c FROM docs)
),
hc AS (SELECT h, COUNT(DISTINCT host) AS nh FROM ch GROUP BY h)
SELECT host, COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN nh > 1 THEN 1 ELSE 0 END) AS BIGINT)
       AS n_shared_chunks
FROM ch JOIN hc USING (h) GROUP BY host
"""


def best_of_cluster(clusters, scored, *, id_col: str = "doc_id",
                    cluster_col: str = "cluster_id",
                    score_col: str = "quality"):
    """Collapse near-dup clusters to their best representative — the
    curation step after pair generation + connected components: keep
    the HIGHEST-``score_col`` member of each cluster (tie -> lowest
    id), not the arbitrary lowest-id one, so dedup preserves the best
    copy of each duplicated page (canonical mirror, least-truncated
    crawl) instead of whichever was crawled first.

    ``clusters`` is (id, cluster) — connected_components output;
    ``scored`` carries (id, score).  -> (cluster_id, keep_id,
    keep_<score>, n_members).

    Scale: one id-keyed equi-join (both sides narrow), then ONE
    cluster-keyed aggregate whose argmax rides ``max(struct(score,
    -id))`` — partial aggregation map-side, no window, no second
    shuffle; at 10^12 docs the cluster table is the small post-dedup
    fraction and AQE handles the skewed giant-cluster tail."""
    from pyspark.sql import functions as F
    j = clusters.select(F.col(id_col), F.col(cluster_col)).join(
        scored.select(F.col(id_col), F.col(score_col)), id_col)
    m = F.max(F.struct(F.col(score_col).alias("s"),
                       (-F.col(id_col)).alias("negid")))
    return (j.groupBy(cluster_col)
            .agg(F.count(F.lit(1)).alias("n_members"), m.alias("_m"))
            .select(cluster_col,
                    (-F.col("_m.negid")).cast("long").alias("keep_id"),
                    F.col("_m.s").alias(f"keep_{score_col}"),
                    "n_members"))


def best_of_cluster_sql(clusters_sql: str, scored_sql: str, *,
                        score_col: str = "quality") -> str:
    """DuckDB twin of best_of_cluster: same join, argmax expressed as
    the rk=1 row of a (score DESC, id ASC) window — different
    algorithm, same total order, hash-equal output."""
    return f"""
WITH cl AS ({clusters_sql}), q AS ({scored_sql}),
j AS (SELECT cl.cluster_id, cl.doc_id, q.{score_col}
      FROM cl JOIN q USING (doc_id))
SELECT cluster_id, keep_id, keep_{score_col}, n_members FROM (
  SELECT cluster_id, doc_id AS keep_id,
         {score_col} AS keep_{score_col},
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
             ORDER BY {score_col} DESC, doc_id ASC) AS rk
  FROM j) WHERE rk = 1
"""


def batch_dedup_status(incoming, existing, *, text_col: str = "text",
                       id_col: str = "doc_id", n_hashes: int = 16,
                       k: int = 4, bands: int = 4):
    """Incremental (continuous-crawl) dedup: classify each INCOMING
    document against an EXISTING corpus without re-clustering the
    corpus — 'exact_dup' when md5(text) already exists, else
    'near_dup' when it shares at least one MinHash LSH band bucket
    with an existing doc, else 'new'.  -> (id, status).

    Scale: both probes are LEFT SEMI joins keyed by a digest (exact:
    16-byte md5; near: (band, band-hash)) — presence marks, so unlike
    pair generation a pathological hot bucket costs one boolean, not
    O(n^2) pairs (no max_bucket cap needed).  The corpus side reduces
    to DISTINCT digests, computed once and reusable across batches
    (materialize as the corpus's dedup index); the incoming batch is
    typically orders smaller than the corpus, so AQE broadcasts it.
    Docs shorter than one k-shingle have no bands and can only be
    exact dups — same rule in both engines."""
    from pyspark.sql import functions as F
    rpb = n_hashes // bands
    ex_h = existing.select(F.md5(F.col(text_col)).alias("_h")).distinct()
    inc_h = incoming.select(F.col(id_col),
                            F.md5(F.col(text_col)).alias("_h"))
    exact = (inc_h.join(ex_h, "_h", "left_semi")
             .select(id_col).withColumn("_exact", F.lit(1)))
    inc_b = band_rows(
        minhash_signature(incoming, text_col, id_col, n_hashes, k),
        id_col, bands, rpb)
    ex_b = (band_rows(
        minhash_signature(existing, text_col, id_col, n_hashes, k),
        id_col, bands, rpb).select("band", "bh").distinct())
    near = (inc_b.join(ex_b, ["band", "bh"], "left_semi")
            .select(id_col).distinct().withColumn("_near", F.lit(1)))
    return (incoming.select(id_col)
            .join(exact, id_col, "left").join(near, id_col, "left")
            .select(F.col(id_col),
                    F.when(F.col("_exact") == 1, F.lit("exact_dup"))
                    .when(F.col("_near") == 1, F.lit("near_dup"))
                    .otherwise(F.lit("new")).alias("status")))


def band_rows_sql(docs_sql: str, *, n_hashes: int = 16, k: int = 4,
                  bands: int = 4) -> str:
    """DuckDB twin of minhash_signature + band_rows over ``docs_sql``
    (a SELECT producing doc_id, text): (doc_id, band, bh) rows, built
    from the same perm_constants/shingles/_hash64 single-source pieces
    as the Spark side and minhash_pairs_sql."""
    consts = perm_constants(n_hashes)
    rpb = n_hashes // bands
    sig_exprs = ", ".join(
        f"list_min(list_transform(hs, h -> xor(h, {c}))) AS s{i}"
        for i, c in enumerate(consts))
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, md5(concat_ws(',', "
        + ", ".join(f"CAST(s{i * rpb + j} AS VARCHAR)"
                    for j in range(rpb))
        + ")) AS bh FROM sigs"
        for i in range(bands))
    return f"""
WITH d AS ({docs_sql}),
sh AS (SELECT doc_id, {shingles_sql('text', k)} AS shingles FROM d),
shf AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
hsh AS (SELECT doc_id,
        list_transform(shingles, s -> {_hash64_sql('s')}) AS hs
        FROM shf),
sigs AS (SELECT doc_id, {sig_exprs} FROM hsh)
SELECT doc_id, band, bh FROM ({band_union})
"""


def batch_dedup_status_sql(incoming_sql: str, existing_sql: str, *,
                           n_hashes: int = 16, k: int = 4,
                           bands: int = 4) -> str:
    """DuckDB twin of batch_dedup_status (same probes as EXISTS
    subqueries — different plan, same classification)."""
    inc_bands = band_rows_sql(incoming_sql, n_hashes=n_hashes, k=k,
                              bands=bands)
    ex_bands = band_rows_sql(existing_sql, n_hashes=n_hashes, k=k,
                             bands=bands)
    return f"""
WITH inc AS ({incoming_sql}),
exh AS (SELECT DISTINCT md5(text) AS h FROM ({existing_sql})),
incb AS ({inc_bands}),
exb AS (SELECT DISTINCT band, bh FROM ({ex_bands})),
near AS (SELECT DISTINCT incb.doc_id
         FROM incb JOIN exb USING (band, bh))
SELECT doc_id,
       CASE WHEN md5(text) IN (SELECT h FROM exh) THEN 'exact_dup'
            WHEN doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
            ELSE 'new' END AS status
FROM inc
"""


def source_overlap(df, *, source_col: str = "source",
                   text_col: str = "text", id_col: str = "doc_id",
                   k: int = 8, max_df: int = 50):
    """Pairwise cross-source duplication matrix — the snapshot-overlap
    analysis a CommonCrawl-style pipeline runs before mixing dumps:
    for every source pair (a < b), how many of each side's distinct
    k-word passages also appear in the other.  -> (source_a, source_b,
    n_shared, n_a, n_b) for pairs with n_shared > 0.

    Scale: distinct (source, digest) after the chunk explode (text
    bytes never shuffle — 16-byte digests do); a digest occurring in
    more than ``max_df`` sources is dropped before the pair join
    (boilerplate chrome would otherwise emit C(max_df, 2) pairs per
    digest — the lsh max_bucket convention); the pair join keys on the
    digest, and the per-source totals ride a broadcast back."""
    from pyspark.sql import functions as F
    ch = (df.select(F.col(source_col).alias("_src"),
                    F.explode(chunks_col(text_col, k)).alias("_c"))
          .select("_src", F.md5(F.col("_c")).alias("_h"))
          .distinct())
    totals = ch.groupBy("_src").agg(F.count(F.lit(1)).alias("_n"))
    hc = ch.groupBy("_h").agg(F.count(F.lit(1)).alias("_nh"))
    chf = ch.join(hc.filter(F.col("_nh") <= max_df).select("_h"), "_h")
    l = chf.select(F.col("_src").alias("source_a"), "_h")
    r = chf.select(F.col("_src").alias("source_b"), "_h")
    pairs = (l.join(r, "_h")
             .filter(F.col("source_a") < F.col("source_b"))
             .groupBy("source_a", "source_b")
             .agg(F.count(F.lit(1)).alias("n_shared")))
    ta = totals.select(F.col("_src").alias("source_a"),
                       F.col("_n").alias("n_a"))
    tb = totals.select(F.col("_src").alias("source_b"),
                       F.col("_n").alias("n_b"))
    return (pairs.join(F.broadcast(ta), "source_a")
            .join(F.broadcast(tb), "source_b")
            .select("source_a", "source_b", "n_shared", "n_a", "n_b"))


def source_overlap_sql(k: int = 8, max_df: int = 50,
                       table: str = "documents") -> str:
    """DuckDB twin of source_overlap (same chunks, same max_df cap)."""
    return f"""
WITH ch AS (
  SELECT DISTINCT source AS src, md5(c) AS h
  FROM (SELECT source, unnest({chunks_sql('text', k)}) AS c
        FROM {table})
),
totals AS (SELECT src, COUNT(*) AS n FROM ch GROUP BY src),
hok AS (SELECT h FROM ch GROUP BY h HAVING COUNT(*) <= {max_df}),
chf AS (SELECT ch.* FROM ch JOIN hok USING (h)),
pairs AS (
  SELECT l.src AS source_a, r.src AS source_b, COUNT(*) AS n_shared
  FROM chf l JOIN chf r ON l.h = r.h AND l.src < r.src
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared, ta.n AS n_a, tb.n AS n_b
FROM pairs
JOIN totals ta ON ta.src = source_a
JOIN totals tb ON tb.src = source_b
"""


def robots_filter(docs, rules, *, url_col: str = "url",
                  host_col: str = "host",
                  prefix_col: str = "path_prefix"):
    """robots.txt-style URL filtering: drop every document whose
    canonical URL's path starts with any disallow ``path_prefix``
    registered for its host — the crawl-hygiene gate every web corpus
    passes through before dedup/curation. Returns the SURVIVORS with
    their (host, path) split attached.

    ``rules`` is (host, path_prefix) — one row per disallow line.
    Matching is per-host prefix match exactly like robots.txt
    Disallow: a rule '/page/1' blocks /page/1, /page/10, /page/199...
    (prefix, not path-segment, semantics — the robots.txt standard).

    Plan shape: host/path come from ONE canonical_url pass (pure
    regexp exprs, codegen); the filter is a LEFT ANTI join on host
    equality + a startswith residual — Spark plans the equi-part as a
    broadcast hash anti join when the rule table is small (robots
    rules are ~10^1 per host, ~10^7 total at web scale — broadcast-
    able after per-host aggregation; if not, it shuffles on host,
    which is also the docs' natural key). No UDF, no explode, no
    second scan of the docs."""
    from pyspark.sql import functions as F
    d = (docs.withColumn("_canon", canonical_url(F.col(url_col)))
         .withColumn("_host",
                     F.regexp_extract("_canon", "^[a-z]+://([^/]+)", 1))
         .withColumn("_path",
                     F.regexp_extract("_canon", "^[a-z]+://[^/]*(/.*)?$",
                                      1)))
    r = rules.select(F.col(host_col).alias("_r_host"),
                     F.col(prefix_col).alias("_r_prefix"))
    cond = ((F.col("_host") == F.col("_r_host"))
            & F.col("_path").startswith(F.col("_r_prefix")))
    return (d.join(r, cond, "left_anti")
            .drop("_canon")
            .withColumnRenamed("_host", "host")
            .withColumnRenamed("_path", "path"))


def robots_filter_sql(docs_sql: str, rules_sql: str,
                      url_expr: str = "url") -> str:
    """DuckDB twin of :func:`robots_filter`: same canonical pass (the
    shared step tables), same host/path regexes, NOT EXISTS in place
    of the anti join. Yields docs.* + host + path."""
    canon = canonical_url_sql(url_expr)
    return f"""
WITH d0 AS (SELECT *, {canon} AS _canon FROM ({docs_sql})),
d AS (SELECT * EXCLUDE (_canon),
             regexp_extract(_canon, '^[a-z]+://([^/]+)', 1) AS host,
             regexp_extract(_canon, '^[a-z]+://[^/]*(/.*)?$', 1)
               AS path
      FROM d0),
r AS ({rules_sql})
SELECT * FROM d
WHERE NOT EXISTS (SELECT 1 FROM r
                  WHERE r.host = d.host
                    AND starts_with(d.path, r.path_prefix))
"""


def politeness_schedule(urls, delay_us: int, *, url_col: str = "url",
                        start_us: int = 0):
    """Per-host politeness scheduling — the crawl-frontier step after
    robots_filter and crawl_budget: every URL gets a fetch slot in its
    host's serial queue and a fetch timestamp ``start_us + slot *
    delay_us`` (one fetch per host per delay, the crawl-delay
    contract). Queue order within a host is md5(canonical_url) — a
    fair deterministic shuffle, so one directory's pages don't
    monopolize the head of the queue; ties (same canonical from raw
    variants) break on the raw url, and identical raw rows are
    interchangeable, so the output is deterministic as a multiset.

    Scale shape: host extraction rides the canonical_url step tables
    (zero UDF), then ONE host-keyed window. Per-host state is the
    queue itself — inherently serial by the politeness contract, so
    the hot-host partition is the semantics, not a skew accident; the
    slot assignment is the cheap part, the crawl time it models is
    the bound. -> (url, host, slot, fetch_at_us).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    c = canonical_url(F.col(url_col))
    d = urls.select(F.col(url_col).alias("url"),
                    c.alias("_canon"),
                    F.regexp_extract(c, "^[a-z]+://([^/]+)", 1)
                     .alias("host"))
    w = Window.partitionBy("host").orderBy(
        F.md5(F.col("_canon")), F.col("url"))
    return (d.withColumn("slot",
                         F.row_number().over(w) - F.lit(1))
            .select("url", "host",
                    F.col("slot").cast("long").alias("slot"),
                    (F.lit(start_us)
                     + F.col("slot") * F.lit(delay_us))
                    .cast("long").alias("fetch_at_us")))


def politeness_schedule_sql(urls_sql: str, delay_us: int, *,
                            start_us: int = 0) -> str:
    """DuckDB twin of politeness_schedule over a subquery producing
    (url) — canonical step tables shared, same md5 queue order."""
    canon = canonical_url_sql("url")
    return f"""
WITH d AS (SELECT url, {canon} AS canon,
           regexp_extract({canon}, '^[a-z]+://([^/]+)', 1) AS host
           FROM ({urls_sql})),
s AS (SELECT url, host,
      ROW_NUMBER() OVER (PARTITION BY host
                         ORDER BY md5(canon), url) - 1 AS slot
      FROM d)
SELECT url, host, CAST(slot AS BIGINT) AS slot,
       CAST({start_us} + slot * {delay_us} AS BIGINT) AS fetch_at_us
FROM s
"""


def containment_pairs(df, *, n: int = 3, block_col: str = "source",
                      id_col: str = "doc_id", text_col: str = "text",
                      min_cont_ppm: int = 500_000,
                      max_df: int = 100):
    """Asymmetric near-dup detection by exact set CONTAINMENT — the
    quote / excerpt / template-wrap case Jaccard misses: a short doc
    fully embedded in a long one has tiny Jaccard (union is
    long-doc-sized) but containment |A∩B| / |min(A,B)| ≈ 1. The
    standard complement to ngram_pairs in a curation stack (Broder's
    containment vs resemblance distinction): resemblance finds
    mirrors, containment finds quotations and boilerplate wrapping.

    Integer-exact where ngram_pairs is float: cont_ppm =
    (1e6 · ni) div least(na, nb) in BIGINT floor ppm over the SAME
    kept-gram universe (shared _gram_pair_counts — the max_df
    stopword-gram guard applies identically, so the two operators'
    pair streams are the same stream). Emits the raw (ni, na, nb)
    so callers can re-derive either direction or Jaccard.

    Scale: identical to ngram_pairs — the one (blk, gram) self-join
    IS the cost; the containment arithmetic is a map-side expression
    on aggregate rows. -> (doc_a, doc_b, ni, na, nb, cont_ppm)."""
    from pyspark.sql import functions as F
    inter = _gram_pair_counts(df, n=n, block_col=block_col,
                              id_col=id_col, text_col=text_col,
                              max_df=max_df)
    return (inter.withColumn(
                "cont_ppm",
                F.expr("(1000000 * ni) div least(na, nb)"))
            .filter(F.col("cont_ppm") >= int(min_cont_ppm))
            .select("doc_a", "doc_b", "ni", "na", "nb", "cont_ppm"))


def containment_pairs_sql(n: int = 3, min_cont_ppm: int = 500_000,
                          table: str = "documents",
                          max_df: int = 100) -> str:
    """DuckDB twin of containment_pairs — same _gram_pairs_body_sql
    fragment, BIGINT floor //."""
    return f"""
WITH {_gram_pairs_body_sql(n, table, max_df)}
SELECT doc_a, doc_b, CAST(ni AS BIGINT) AS ni,
       CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
       CAST((1000000 * ni) // LEAST(na, nb) AS BIGINT) AS cont_ppm
FROM inter
WHERE (1000000 * ni) // LEAST(na, nb) >= {int(min_cont_ppm)}
"""


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance) near-dup pairs — blocked Levenshtein join
# ---------------------------------------------------------------------------

def fuzzy_pairs(df, *, d: int = 8, title_len: int = 24,
                prefix_len: int = 8, max_block: int = 50,
                id_col: str = "doc_id", text_col: str = "text"):
    """Edit-distance near-dup pairs over a derived title (the first
    ``title_len`` chars of ``text_col``) — the classic entity-
    resolution tier BETWEEN exact dedup (hash) and set-similarity
    (minhash/ngram): catches single-character edits, truncations and
    reorderings shorter than ``d`` that shingle methods dilute.

    Semantics (the oracle mirrors every clause): candidate pairs are
    doc pairs whose titles share the same ``prefix_len``-char prefix
    BLOCK, drawn only from blocks of size in [2, ``max_block``]
    (hot blocks — boilerplate openings — are DROPPED, the standard
    blocking-cap tradeoff; a dropped block is a coverage cap, not a
    wrong answer); a candidate is emitted when the title length gap
    is <= ``d`` and levenshtein(title_a, title_b) <= ``d``. Both
    engines ship the same classic DP levenshtein over code points,
    so the distance is engine-exact.

    Scale: prefix blocking bounds the pair space to
    sum_b n_b^2 <= max_block * |docs|; the DP cost per pair is the
    constant title_len^2. ONE shuffle on the block key, explicitly
    repartitioned one-partition-per-core BEFORE the size window and
    self-join (both then reuse that exchange): the join's work is
    CPU per emitted candidate, invisible to AQE's byte-based
    coalescing, which would otherwise collapse the stage to 1-2
    tasks on a single-file scan. -> (doc_a, doc_b, dist), doc_a <
    doc_b."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    p = df.sparkSession.sparkContext.defaultParallelism
    t = (df.select(F.col(id_col).alias("_id"),
                   F.substring(text_col, 1, title_len).alias("_s"),
                   F.substring(text_col, 1, prefix_len).alias("_blk"))
         .repartition(p, "_blk"))
    t = (t.withColumn("_n", F.count(F.lit(1))
                      .over(Window.partitionBy("_blk")))
         .filter((F.col("_n") >= 2) & (F.col("_n") <= int(max_block)))
         .drop("_n"))
    a = t.select(F.col("_blk"), F.col("_id").alias("doc_a"),
                 F.col("_s").alias("_sa"))
    b = t.select(F.col("_blk"), F.col("_id").alias("doc_b"),
                 F.col("_s").alias("_sb"))
    return (a.join(b, "_blk")
            .filter((F.col("doc_a") < F.col("doc_b"))
                    & (F.abs(F.length("_sa") - F.length("_sb"))
                       <= int(d))
                    & (F.levenshtein("_sa", "_sb") <= int(d)))
            .select("doc_a", "doc_b",
                    F.levenshtein("_sa", "_sb").cast("long")
                    .alias("dist")))


def fuzzy_pairs_sql(d: int = 8, title_len: int = 24,
                    prefix_len: int = 8, max_block: int = 50,
                    table: str = "documents") -> str:
    """DuckDB twin of fuzzy_pairs — same block gate, same length
    pre-filter, same levenshtein threshold."""
    return f"""
WITH fz_t AS (SELECT doc_id, substr(text, 1, {int(title_len)}) AS s,
              substr(text, 1, {int(prefix_len)}) AS blk
              FROM {table}),
fz_b AS (SELECT blk FROM fz_t GROUP BY blk
         HAVING COUNT(*) BETWEEN 2 AND {int(max_block)}),
fz_k AS (SELECT fz_t.* FROM fz_t JOIN fz_b USING (blk))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
FROM fz_k a JOIN fz_k b
  ON a.blk = b.blk AND a.doc_id < b.doc_id
 AND abs(length(a.s) - length(b.s)) <= {int(d)}
 AND levenshtein(a.s, b.s) <= {int(d)}
"""


# ---------------------------------------------------------------------------
# Site-structure profile: per-host URL tree fanout
# ---------------------------------------------------------------------------

def url_tree(urls, *, url_col: str = "url"):
    """Per-host URL-hierarchy profile — the crawl-planning view of a
    site's shape: every URL's path explodes into its directory
    prefixes, and each (host, depth) level reports how many distinct
    NODES exist there, how many URLs TERMINATE there, and the
    child fanout

        branch_ppm = n_nodes(depth+1) * 1e6  div  n_nodes(depth)

    (NULL at the deepest level). Wide-and-shallow hosts (high early
    fanout) want breadth-first frontier sharding; deep chains signal
    calendar/pagination traps for crawl_budget to cap — the
    structural readout politeness/robots operate blind to. Host
    parse is the anchored-regexp convention (scheme stripped, host
    lowercased); empty path segments collapse, so ``//`` and
    trailing ``/`` never mint phantom nodes.

    Scale: ONE explode of depth rows per URL (bounded by path depth,
    not corpus size) into a distinct on (host, depth, prefix) — the
    only full-data shuffles; levels then aggregate on the NODE frame
    and the fanout join keys (host, depth) against its own lead —
    aggregate-sized. -> (host, depth, n_nodes, n_urls, branch_ppm).
    """
    from pyspark.sql import functions as F

    p = urls.select(
        F.lower(F.regexp_extract(
            F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)",
            1)).alias("host"),
        F.expr(
            f"filter(split(regexp_extract({url_col}, "
            f"'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), "
            f"'/'), s -> s <> '')").alias("_segs"))
    pref = (p.filter(F.expr("size(_segs) > 0"))
            .select("host", F.explode(F.expr(
                "transform(sequence(1, size(_segs)), d -> "
                "struct(cast(d as bigint) as d, "
                "array_join(slice(_segs, 1, d), '/') as pre, "
                "cast(size(_segs) as bigint) as full))"))
                .alias("_x"))
            .select("host", F.col("_x.d").alias("depth"),
                    F.col("_x.pre").alias("_pre"),
                    F.col("_x.full").alias("_full")))
    lvl = (pref.groupBy("host", "depth")
           .agg(F.countDistinct("_pre").alias("n_nodes"),
                F.sum(F.expr(
                    "CASE WHEN depth = _full THEN 1 ELSE 0 END"))
                .alias("n_urls")))
    nxt = lvl.select(F.col("host").alias("_h"),
                     (F.col("depth") - 1).alias("_d"),
                     F.col("n_nodes").alias("_child"))
    return (lvl.join(nxt, (F.col("host") == F.col("_h"))
                     & (F.col("depth") == F.col("_d")), "left")
            .select("host", "depth",
                    F.col("n_nodes").cast("long"),
                    F.col("n_urls").cast("long"),
                    F.expr("(_child * 1000000) div n_nodes")
                    .cast("long").alias("branch_ppm")))


def url_tree_sql(urls_sql: str) -> str:
    """DuckDB twin of url_tree over a subquery producing (url) —
    same anchored regexps, same prefix explode, same floor."""
    return r"""
WITH ut_p AS (
  SELECT lower(regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host,
         list_filter(string_split(regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/'),
           s -> s <> '') AS segs
  FROM (""" + urls_sql + r""")),
ut_e AS (
  SELECT host, CAST(d AS BIGINT) AS depth,
         array_to_string(list_slice(segs, 1, d), '/') AS pre,
         CAST(len(segs) AS BIGINT) AS fdep
  FROM ut_p, unnest(generate_series(1, len(segs))) AS t(d)
  WHERE len(segs) > 0),
ut_l AS (
  SELECT host, depth, COUNT(DISTINCT pre) AS n_nodes,
         SUM(CASE WHEN depth = fdep THEN 1 ELSE 0 END) AS n_urls
  FROM ut_e GROUP BY 1, 2)
SELECT a.host, a.depth, CAST(a.n_nodes AS BIGINT) AS n_nodes,
       CAST(a.n_urls AS BIGINT) AS n_urls,
       CAST((b.n_nodes * 1000000) // a.n_nodes AS BIGINT)
         AS branch_ppm
FROM ut_l a LEFT JOIN ut_l b
ON a.host = b.host AND b.depth = a.depth + 1
"""
