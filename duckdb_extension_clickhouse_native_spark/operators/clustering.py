"""Embedding clustering: fixed-iteration k-means (Lloyd) in exact
fixed-point arithmetic.

The pipeline use-case: cluster an embedding column for semantic dedup
/ topic bucketing / diversity sampling. K-means is iterative, but a
FIXED number of Lloyd iterations is expressible as a chain of CTEs —
so the whole thing stays declarative in both engines and the oracle
check is exact.

Exactness (the hard part for a cross-engine clustering oracle):
* coordinates are floored to 1e-6 fixed-point BIGINTs — exact in both
  engines (FLOOR of the same double);
* distances are pure BIGINT sums of squares — associative, order-free;
* centroid updates quantize back to BIGINT via FLOOR(sum/count) with
  the sum exact in double (|sum| < 2^53) — identical everywhere;
* seeds are the k smallest md5(vec_id) — deterministic, no RNG.
So assignments, inertia, and cluster sizes are bit-identical across
Spark and DuckDB: a *clustering* result you can hash-compare.

Scale shape: vectors are dimension-exploded once; the per-iteration
centroid join broadcasts (k x dim rows); the (vec_id, cid) distance
aggregation collapses map-side (all dims of a vector sit in the same
input partition), so the shuffle carries k rows per vector, not
k x dim. At real scale you'd swap the exploded join for a broadcast
numpy centroid matrix inside mapInPandas (one BLAS distance matrix
per batch) — same driver loop, fewer rows in flight; this SQL form is
the portable, oracle-checkable shape.
"""

from __future__ import annotations

SCALE = 10**6


def kmeans_sql(
    dialect: str,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    vecs_rel: str | None = None,
) -> str:
    """Per-cluster summary after ``iters`` Lloyd iterations:
    (cid, n_members, inertia, rep_vec). Inertia is the exact
    fixed-point sum of squared distances (BIGINT).

    ``vecs_rel``: name of a pre-materialized (vec_id, d, xf) relation.
    When given, the exploded-dims CTE is omitted and every stage reads
    that relation instead — the Spark path checkpoints it once (Catalyst
    inlines CTEs, so the explode would otherwise recompute per
    consumer: cent0 + one assign/means per iteration + final)."""
    s = "STRING" if dialect == "spark" else "VARCHAR"
    if dialect == "spark":
        explode_dims = (
            "SELECT vec_id, d + 1 AS d, CAST(FLOOR(CAST(v AS DOUBLE) * "
            f"{SCALE}) AS BIGINT) AS xf "
            "FROM embeddings LATERAL VIEW posexplode(embedding) t AS d, v"
        )
    else:
        explode_dims = (
            "SELECT vec_id, generate_subscripts(embedding, 1) AS d, "
            f"CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {SCALE}) AS BIGINT) AS xf "
            "FROM embeddings"
        )
    # Spark-only broadcast hints: the centroid table (k x dim rows) and
    # the per-vector assignment (1 row/vector vs dim rows/vector in
    # vecs) are always the small sides — Catalyst's size estimates for
    # CTE outputs miss this and fall back to sort-merge. DuckDB ignores
    # hints it never sees (the oracle text simply omits them).
    h_cent = "/*+ BROADCAST(c) */ " if dialect == "spark" else ""
    h_best = "/*+ BROADCAST(b) */ " if dialect == "spark" else ""
    h_means = "/*+ BROADCAST(m) */ " if dialect == "spark" else ""
    vecs = vecs_rel or "vecs"
    parts = []
    if vecs_rel is None:
        parts.append(f"vecs AS ({explode_dims})")
    parts += [
        f"""seeds AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS {s})), vec_id) - 1 AS cid
      FROM embeddings
    )""",
        f"""cent0 AS (
      SELECT s.cid, v.d, v.xf AS cf
      FROM seeds s JOIN {vecs} v ON s.vec_id = v.vec_id
      WHERE s.cid < {k}
    )""",
    ]
    for t in range(iters):
        parts.append(f"""assign{t} AS (
      SELECT {h_cent}v.vec_id, c.cid, SUM((v.xf - c.cf) * (v.xf - c.cf)) AS dist
      FROM {vecs} v JOIN cent{t} c ON v.d = c.d
      GROUP BY v.vec_id, c.cid
    )""")
        parts.append(f"""best{t} AS (
      SELECT vec_id, cid, dist FROM (
        SELECT vec_id, cid, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM assign{t}
      ) r WHERE rn = 1
    )""")
        # FLOOR(sum/count) instead of integer division: Spark DIV
        # truncates toward zero, DuckDB // floors — they disagree on
        # negative sums; FLOOR of the (exact) double agrees everywhere
        parts.append(f"""means{t} AS (
      SELECT {h_best}b.cid, v.d,
             CAST(FLOOR(CAST(SUM(v.xf) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cf
      FROM best{t} b JOIN {vecs} v ON b.vec_id = v.vec_id
      GROUP BY b.cid, v.d
    )""")
        # empty clusters keep their previous centroid (deterministic)
        parts.append(f"""cent{t + 1} AS (
      SELECT {h_means}o.cid, o.d, COALESCE(m.cf, o.cf) AS cf
      FROM cent{t} o LEFT JOIN means{t} m ON o.cid = m.cid AND o.d = m.d
    )""")
    # final assignment against the post-iteration centroids
    parts.append(f"""assign_final AS (
      SELECT {h_cent}v.vec_id, c.cid, SUM((v.xf - c.cf) * (v.xf - c.cf)) AS dist
      FROM {vecs} v JOIN cent{iters} c ON v.d = c.d
      GROUP BY v.vec_id, c.cid
    )""")
    parts.append("""best_final AS (
      SELECT vec_id, cid, dist FROM (
        SELECT vec_id, cid, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM assign_final
      ) r WHERE rn = 1
    )""")
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT cid, COUNT(*) AS n_members, CAST(SUM(dist) AS BIGINT) AS inertia,
           MIN(vec_id) AS rep_vec
    FROM best_final
    GROUP BY cid
    """

def kmeans_query(spark, sf_dir: str, k: int = 8, iters: int = 2, dim: int = 64):
    """Spark path for ``kmeans_embeddings``: checkpoint the exploded
    fixed-point (vec_id, d, xf) relation once — it feeds cent0 plus an
    assign and a means join per iteration plus the final assignment
    (6 consumers at iters=2), and Catalyst's CTE inlining would re-run
    the posexplode for each. Materializing the explode is also the scale
    posture: it is dim rows x 2 BIGINTs per vector, the working set
    every Lloyd iteration re-reads.

    Why this stays the exploded form (r7 finding, measured head-to-head
    in fresh sessions at sf0.1): an array-keeping variant (vectors as
    BIGINT arrays, one broadcast join per assign with either an
    unrolled 64-term distance or aggregate(zip_with(...)), packed
    dist*k+cid argmin) was built and oracle-matched, but LOST at
    conformance scale — cold 10.0s/7.8s vs 7.6s, warm 3.0s/2.6s vs
    2.0s — because Janino compilation of the unrolled expressions
    dominates cold runs and per-element array access beats none of the
    overheads at n=2000. The genuinely-at-scale shape (broadcast numpy
    centroid matrix, k x dim partial-sum shuffle) is ``kmeans_fast``,
    registered with the same oracle; the SQL twin's job is to be the
    fastest PORTABLE form, which the exploded join is."""
    from ..plans.base import load_tables

    load_tables(spark, sf_dir, ["embeddings"])
    vecs = spark.sql(
        "SELECT vec_id, d + 1 AS d, CAST(FLOOR(CAST(v AS DOUBLE) * "
        f"{SCALE}) AS BIGINT) AS xf "
        "FROM embeddings LATERAL VIEW posexplode(embedding) t AS d, v"
    )
    vecs.localCheckpoint(eager=False).createOrReplaceTempView("kmeans_vecs_fixed")
    return spark.sql(
        kmeans_sql("spark", k=k, iters=iters, dim=dim, vecs_rel="kmeans_vecs_fixed")
    )


def kmeans_fast(spark, sf_dir: str, k: int = 8, iters: int = 2, dim: int = 64):
    """The PRODUCTION shape of ``kmeans_sql``, bit-identical result.

    Same fixed-point semantics (floor-1e-6 coordinates, exact BIGINT
    distances, FLOOR(double-division) centroid updates, md5 seeds) but
    the n x k distance computation runs as numpy int64 matrix ops
    against a broadcast centroid array inside ``mapInPandas`` — the
    swap the SQL form's docstring promises for real scale:

    * per iteration the cluster shuffle carries k x dim PARTIAL-SUM
      rows per input batch (a few KB), not k rows per vector — at
      10^10 vectors the SQL form shuffles 8 x 10^10 rows per
      iteration, this shuffles ~10^6;
    * the centroid matrix (k x dim int64, ~4 KB at the defaults) ships
      in the UDF closure — the broadcast-variable pattern at real k;
    * the only driver-side data are the k x dim centroid updates per
      iteration (legitimate iterative control, like the CC loop).

    Registered with the SAME DuckDB oracle as ``kmeans_embeddings``:
    the driver's hash-compare proves the fast path exact, not just
    close."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from ..plans.base import load_tables

    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"].select("vec_id", "embedding")

    def to_fixed(mat: "np.ndarray") -> "np.ndarray":
        # xf = FLOOR(CAST(v AS DOUBLE) * SCALE): float32 -> float64 is
        # exact, the multiply rounds identically to both engines' double
        return np.floor(mat.astype(np.float64) * SCALE).astype(np.int64)

    # seeds: the k smallest md5(vec_id) — the same expression as the SQL
    # form. ONE job collects ids + embeddings together (r15: this was
    # two jobs — a ranked-id collect then a filtered re-scan — one
    # whole-job of pure launch overhead for k rows)
    seed_rows = spark.sql(
        f"""
        SELECT vec_id, embedding FROM (
          SELECT vec_id, embedding,
                 ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(vec_id AS STRING)), vec_id) - 1 AS cid
          FROM embeddings
        ) WHERE cid < {k} ORDER BY cid
        """
    ).collect()
    cent = np.stack(
        [
            to_fixed(np.asarray(r.embedding, dtype=np.float32))
            for r in seed_rows
        ]
    )  # (k, dim) int64

    def dists_to(X: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
        # exact int64 squared distances, (n, k); ties resolve to the
        # lowest cid via argmin's first-minimum rule (== ORDER BY dist, cid)
        diff = X[:, None, :] - C[None, :, :]
        return np.einsum("nkd,nkd->nk", diff, diff)

    for _ in range(iters):
        C = cent

        def partials(batches, C=C, k=k, dim=dim):
            for pdf in batches:
                if pdf.empty:
                    continue
                X = to_fixed(np.stack(list(pdf["embedding"])))
                best = np.argmin(dists_to(X, C), axis=1)
                cids, cnts, sums = [], [], []
                for cid in range(k):
                    mask = best == cid
                    n = int(mask.sum())
                    if not n:
                        continue
                    cids.append(cid)
                    cnts.append(n)
                    sums.append(X[mask].sum(axis=0).tolist())
                yield pd.DataFrame({"cid": cids, "cnt": cnts, "sums": sums})

        # combine batch partials engine-side; centroid update uses the
        # exact SQL expression (FLOOR of the exact double division)
        rows = (
            emb.mapInPandas(partials, "cid int, cnt bigint, sums array<bigint>")
            .select("cid", "cnt", F.posexplode("sums").alias("d", "s"))
            .groupBy("cid", "d")
            .agg(F.sum("s").alias("ssum"), F.sum("cnt").alias("n"))
            .withColumn(
                "cf", F.expr("CAST(FLOOR(CAST(ssum AS DOUBLE) / n) AS BIGINT)")
            )
            .select("cid", "d", "cf")
            .collect()
        )
        nxt = cent.copy()  # clusters with no members keep their centroid
        for r in rows:
            nxt[r.cid, r.d] = r.cf
        cent = nxt

    C = cent

    def assign(batches, C=C):
        for pdf in batches:
            if pdf.empty:
                continue
            X = to_fixed(np.stack(list(pdf["embedding"])))
            d = dists_to(X, C)
            best = np.argmin(d, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cid": best.astype(np.int32),
                    "dist": d[np.arange(len(best)), best],
                }
            )

    final = emb.mapInPandas(assign, "vec_id bigint, cid int, dist bigint")
    return final.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        F.sum("dist").cast("bigint").alias("inertia"),
        F.min("vec_id").alias("rep_vec"),
    )
