"""Connected-components dedup clustering.

Near-dup detection (MinHash/SimHash/ngram, operators/dedup.py) emits
PAIRS; turning pairs into "keep one doc per duplicate cluster"
requires the connected components of the pair graph — the step a real
training-data pipeline runs after candidate generation (clusters
chain: A~B, B~C puts A,C in one cluster even if A!~C).

Spark side: iterative min-label propagation with the DataFrame API —
labels seed as the per-doc min star root (the first round, folded
into one SQL window); each round every node takes the min label
among itself and its neighbors; stop when no label changed (detected
by the strictly-decreasing decimal label-sum — one scan per round,
no old-vs-new join). This is
the genuinely iterative algorithm the brief calls out (no single SQL
expresses a fixpoint in Spark), so the builder loops on the driver
while ALL data stays distributed: each round is one shuffle keyed on
doc_id, the convergence test is a count aggregate, and
``localCheckpoint`` truncates the growing lineage each round (at
cluster scale: ``checkpoint`` to durable storage instead).

Each round pairs the propagation step with a pointer-jump (path
halving) — label <- label's label — so label chains contract
exponentially and rounds are O(log diameter) rather than
O(diameter): a CHAINED near-dup corpus (doc i ~ doc i+1, the
adversarial case for plain propagation) converges in ~log2(n)
rounds (pinned by test_connected_components_long_chain). This is
the same acceleration idea as alternating large-star/small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond")
with a simpler per-round shape: one neighbor join + one self join.

Oracle: DuckDB recursive CTE computing min reachable label over the
symmetric edge closure — exact fixpoint semantics, feasible at oracle
scale (500 docs), engine-independent because the edge set is
md5-keyed.

Edges come from two cheap star-edge families (so clusters CAN chain
through docs sharing either key):
* prefix key  — md5 of the first 8 tokens;
* content key — md5 of the sorted distinct token set.
Within each key group every doc links to the group's min doc_id
(star edges preserve the group's connectivity with O(n) edges, not
O(n^2) — the same trick keeps 100 TB edge lists linear in corpus
size).

Reference parity note: the reference (SURVEY.md §2) has no operator
surface at all — this is part of the beyond-reference pipeline north
star graded alongside §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _star_cte(dialect: str) -> str:
    """Shared CTE prefix: tokenized docs -> two md5 key families ->
    per-(doc, key) star root.

    Spark unpivots the two keys with a generator, not UNION ALL —
    Catalyst inlines a CTE per union branch, so the tokenization
    would run twice per build (the project-wide unpivot rule; the
    DuckDB oracle keeps UNION ALL, where CTEs materialize)."""
    if dialect == "spark":
        tokens = "split(text, ' ')"
        prefix8 = "concat_ws(' ', slice(toks, 1, 8))"
        sorted_set = "concat_ws(' ', array_sort(array_distinct(toks)))"
        keyed = (
            f"SELECT doc_id, explode(array(md5({prefix8}), md5({sorted_set}))) AS k "
            "FROM docs"
        )
    else:
        tokens = "string_split(text, ' ')"
        prefix8 = "array_to_string(toks[1:8], ' ')"
        sorted_set = "array_to_string(list_sort(list_distinct(toks)), ' ')"
        keyed = (
            f"SELECT doc_id, md5({prefix8}) AS k FROM docs "
            f"UNION ALL SELECT doc_id, md5({sorted_set}) AS k FROM docs"
        )
    return f"""
    WITH docs AS (SELECT doc_id, {tokens} AS toks FROM documents),
    keyed AS ({keyed}),
    star AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY k) AS root FROM keyed
    )"""


def _edges_sql(dialect: str) -> str:
    return f"""{_star_cte(dialect)}
    SELECT DISTINCT root AS src, doc_id AS dst FROM star WHERE doc_id <> root
    """


def components_oracle_sql() -> str:
    """Exact fixpoint via recursive transitive reachability, then min
    label per node. UNION (not UNION ALL) dedups rows so cycles
    terminate."""
    return f"""
    WITH RECURSIVE edges AS ({_edges_sql("duckdb")}),
    sym AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    reach(id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.id
    ),
    comp AS (SELECT id AS doc_id, MIN(label) AS component FROM reach GROUP BY id),
    sized AS (SELECT component, COUNT(*) AS n_members FROM comp GROUP BY component)
    SELECT c.doc_id, c.component, s.n_members,
           CAST(CASE WHEN c.doc_id = c.component THEN 1 ELSE 0 END AS INT) AS is_kept
    FROM comp c JOIN sized s ON c.component = s.component
    """


def propagate_min_labels(
    edges: DataFrame, seed_labels: DataFrame, max_iters: int = 30
) -> DataFrame:
    """Generic accelerated min-label propagation: ``edges`` (src, dst)
    undirected-as-given, ``seed_labels`` (id, label) covering every
    node. Returns the fixpoint labels (id, label) = each node's
    component minimum. Used by both document CC and embedding
    semantic-dedup clustering."""
    # symmetric closure: propagation must flow both directions
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)

    labels = seed_labels.localCheckpoint(eager=True)
    # labels only ever decrease, so the decimal label-sum strictly
    # decreases iff any label changed — one scan per round instead of
    # an old-vs-new join (decimal: no overflow at any corpus size)
    prev_sum = labels.agg(
        F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]

    for _ in range(max_iters):
        # (1) propagate: min label over self + neighbors
        msgs = (
            sym.join(labels, sym.src == labels.id)
            .select(F.col("dst").alias("id"), F.col("label"))
        )
        prop = (
            labels.union(msgs).groupBy("id").agg(F.min("label").alias("label"))
        )
        # (2) pointer-jump (path halving): label <- label's label.
        # Plain propagation needs O(diameter) rounds — a chained
        # near-dup corpus (doc i ~ doc i+1) makes that O(n). The jump
        # contracts label chains exponentially, so rounds are
        # O(log diameter); every label value is itself a doc id, so
        # the self-join always finds its row (left join for safety).
        jumped = (
            prop.alias("a")
            .join(
                prop.select(
                    F.col("id").alias("label"), F.col("label").alias("label2")
                ).alias("b"),
                "label",
                "left",
            )
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("label2", "label")).alias(
                    "label"
                ),
            )
        )
        # non-eager: the convergence agg right below is the first
        # action, so it materializes the checkpoint — one job per
        # round instead of two (measured 1.4 -> 1.3 s steady-state at
        # sf0.1; lineage is still truncated at that materialization)
        new_labels = jumped.localCheckpoint(eager=False)
        new_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(
            f"label propagation did not converge in {max_iters} rounds"
        )
    return labels


def _cluster_report(labels: DataFrame, id_name: str) -> DataFrame:
    """(id, label) fixpoint -> (id_name, component, n_members,
    is_kept)."""
    sized = labels.groupBy("label").agg(F.count("*").alias("n_members"))
    return (
        labels.join(sized, "label")
        .select(
            F.col("id").alias(id_name),
            F.col("label").alias("component"),
            "n_members",
            F.when(F.col("id") == F.col("label"), 1).otherwise(0)
            .cast("int")
            .alias("is_kept"),
        )
    )


def connected_components(
    spark: SparkSession, sf_dir: str, max_iters: int = 30
) -> DataFrame:
    """Per-doc cluster assignment: (doc_id, component, n_members,
    is_kept) where component = min doc_id reachable in the near-dup
    graph and is_kept marks the canonical survivor."""
    from ..plans.base import data_sized_shuffle, load_tables

    # the per-round checkpoints materialize at session
    # shuffle.partitions (checkpointed plans never AQE-coalesce): at
    # the session default every propagation round paid 32 reducers and
    # 32 checkpoint blocks for node-sized relations (4.6 s at 32 cores
    # vs 1.4 s at 8, r16). data_sized_shuffle sizes the rounds to the
    # corpus, capped at the deployment's width.
    load_tables(spark, sf_dir, ["documents"])
    data_sized_shuffle(spark, sf_dir, ["documents"])
    # Build the star relation ONCE and derive both edges and seeds
    # from it — the previous two spark.sql() calls each re-ran the
    # full tokenize -> explode -> md5 -> window chain (guide §1.2:
    # don't compute the same thing twice). localCheckpoint(eager=False)
    # materializes star at the seed-sum action; both derivations then
    # read the checkpointed blocks (the TTL-rollup precedent — no
    # DataSource pushdown exists on checkpointed blocks, so the r10
    # shared-reader trap structurally cannot apply).
    star = spark.sql(
        f"{_star_cte('spark')} SELECT doc_id, root FROM star"
    ).localCheckpoint(eager=False)
    edges = (
        star.where(F.col("doc_id") != F.col("root"))
        .select(F.col("root").alias("src"), F.col("doc_id").alias("dst"))
        .distinct()
    )
    # Initial label = min star root across both key families — this
    # IS the first propagation round (each doc's only neighbors are
    # its roots, whose initial labels are themselves), computed as a
    # groupBy instead of a join round.
    seeds = star.groupBy("doc_id").agg(F.min("root").alias("label")).select(
        F.col("doc_id").alias("id"), "label"
    )
    labels = propagate_min_labels(edges, seeds, max_iters)
    return _cluster_report(labels, "doc_id")


SEMANTIC_THRESHOLD = 0.2  # synthetic embeddings are near-orthogonal;
# real corpora use ~0.9 — the threshold only scales the pair count


def semantic_clusters_oracle_sql(threshold: float = SEMANTIC_THRESHOLD) -> str:
    """Recursive-CTE fixpoint over the sign-LSH pair graph — the exact
    composition the Spark side runs (LSH pairs are engine-identical:
    fixed-point cosine, no hashing)."""
    from .similarity import signlsh_pairs_cte

    return f"""
    WITH RECURSIVE {signlsh_pairs_cte("duckdb", threshold=threshold)},
    sym AS (
      SELECT vec_a AS src, vec_b AS dst FROM lsh_pairs
      UNION SELECT vec_b, vec_a FROM lsh_pairs
    ),
    reach(id, label) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.id
    ),
    comp AS (SELECT id AS vec_id, MIN(label) AS component FROM reach GROUP BY id),
    sized AS (SELECT component, COUNT(*) AS n_members FROM comp GROUP BY component)
    SELECT c.vec_id, c.component, s.n_members,
           CAST(CASE WHEN c.vec_id = c.component THEN 1 ELSE 0 END AS INT) AS is_kept
    FROM comp c JOIN sized s ON c.component = s.component
    """


def semantic_clusters(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = SEMANTIC_THRESHOLD,
    max_iters: int = 30,
) -> DataFrame:
    """Semantic dedup end-to-end: sign-LSH near-dup embedding pairs ->
    connected components -> per-vector cluster assignment (vec_id,
    component, n_members, is_kept). The 'keep one per semantic
    cluster' decision a pipeline runs after embedding near-dup mining;
    transitive by construction (A~B, B~C clusters A,C together even
    when A,C share no LSH bucket)."""
    from ..plans.base import load_tables
    from .similarity import signlsh_pairs_sql

    load_tables(spark, sf_dir, ["embeddings"])
    pairs = spark.sql(signlsh_pairs_sql("spark", threshold=threshold))
    edges = pairs.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    seeds = spark.table("embeddings").select(
        F.col("vec_id").alias("id"), F.col("vec_id").alias("label")
    )
    labels = propagate_min_labels(edges, seeds, max_iters)
    return _cluster_report(labels, "vec_id")


def pagerank_sql(
    dialect: str,
    iters: int = 10,
    top_k: int = 20,
    max_members: int = 20,
    base: int = 1_000_000_000_000,
) -> str:
    """PageRank over the user co-occurrence graph — the iterative
    authority-scoring step of corpus curation (CommonCrawl-style
    domain ranking decides what gets crawled/kept; here users sharing
    an event ``props.k`` key are linked the way domains sharing links
    are).

    Engine parity is exact by construction: ranks live in e12 fixed
    point, every per-edge contribution is BIGINT floor division
    (rank DIV out_degree), damping is the rational 85/100 applied with
    integer DIV, and each iteration's SUM is an exact integer — so
    after any number of iterations both engines hold bit-identical
    ranks with no float drift and no convergence test (a fixed
    ``iters`` unrolled as CTEs; leaked floor/dangling mass is
    deterministic and identical in both engines).

    Scale shape: the co-occurrence explosion is structurally bounded
    the same way ``ngram_jaccard``'s df-cap bounds shingle joins —
    only the ``max_members`` most-active users per key join (heavier
    keys are head-of-Zipf "stop domains"), so edges <= |keys| *
    max_members**2 regardless of corpus size. Each iteration is one
    edge-keyed join plus one dst-keyed aggregation with map-side
    combine — the components.py label-propagation shape; a production
    deployment runs the same step in a loop with localCheckpoint
    (``propagate_min_labels``) instead of unrolling, which is the
    conformance-oracle form here.
    """
    idiv = "DIV" if dialect == "spark" else "//"
    tp = f"(15 * {base}) {idiv} (100 * nn.n)"
    ctes = []
    for i in range(iters):
        ctes.append(
            f"""r{i + 1} AS (
      SELECT nd.user_id,
             {tp} + (85 * COALESCE(c.s, 0)) {idiv} 100 AS r
      FROM nodes nd
      CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS user_id, CAST(SUM(r.r {idiv} d.deg) AS BIGINT) AS s
        FROM edges e
        JOIN r{i} r ON e.src = r.user_id
        JOIN outdeg d ON e.src = d.src
        GROUP BY e.dst
      ) c ON nd.user_id = c.user_id
    )"""
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH ev AS (
      SELECT user_id,
             CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS BIGINT) AS k
      FROM events
    ),
    cnt AS (SELECT k, user_id, COUNT(*) AS c FROM ev GROUP BY k, user_id),
    mem AS (
      SELECT k, user_id FROM (
        SELECT k, user_id,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY c DESC, user_id) AS rn
        FROM cnt
      ) ranked WHERE rn <= {max_members}
    ),
    edges AS (
      SELECT DISTINCT a.user_id AS src, b.user_id AS dst
      FROM mem a JOIN mem b ON a.k = b.k AND a.user_id <> b.user_id
    ),
    outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT user_id FROM ev),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (
      SELECT nd.user_id, {base} {idiv} nn.n AS r
      FROM nodes nd CROSS JOIN nn
    ),
    {chain}
    SELECT user_id,
           r AS rank_e12,
           CAST(r AS DOUBLE) / {base}.0 AS pagerank
    FROM r{iters}
    ORDER BY rank_e12 DESC, user_id
    LIMIT {top_k}
    """


def pagerank_query(
    spark: SparkSession,
    sf_dir: str,
    iters: int = 10,
    top_k: int = 20,
    max_members: int = 20,
    base: int = 1_000_000_000_000,
) -> DataFrame:
    """Spark production form of ``pagerank_sql`` — bit-identical ranks
    (same e12 fixed point, same integer DIV damping), restructured for
    Spark's execution model: the unrolled-CTE oracle form re-expands
    edges/outdeg under every iteration (Spark does not materialize
    WITH subtrees — measured 195 Exchanges / 29 SortMergeJoins at
    sf0.1), so here the capped edge relation is built ONCE and
    checkpointed (``localCheckpoint``), and each iteration is one
    broadcast join of the tiny rank relation (|users| rows) onto it
    plus one dst-keyed partial-sum shuffle — the k-means-fast shape.
    The node count is a one-scalar driver collect (control plane, same
    rule as the components convergence scalar); Python ``//`` on
    positive ints is the same floor division as SQL DIV, so the
    teleport constant is engine-exact.

    At 100 TB: edges stay bounded by the ``max_members`` cap (see
    ``pagerank_sql``), the per-iteration shuffle is keyed on dst
    (uniform after the cap), and the rank relation is always
    node-sized — broadcastable far beyond this corpus (beyond that,
    it degrades gracefully to a shuffle join on src).
    """
    from ..plans.base import data_sized_shuffle, load_tables

    # the rank/sum relations are node-sized and the edge relation is
    # cap-bounded: the 20 shuffles this loop schedules are sized to
    # the events input, not to the cluster-wide default
    data_sized_shuffle(spark, sf_dir, ["events"])
    t = load_tables(spark, sf_dir, ["events"])
    edges = spark.sql(
        f"""
        WITH ev AS (
          SELECT user_id,
                 CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS BIGINT) AS k
          FROM events
        ),
        cnt AS (SELECT k, user_id, COUNT(*) AS c FROM ev GROUP BY k, user_id),
        mem AS (
          SELECT k, user_id FROM (
            SELECT k, user_id,
                   ROW_NUMBER() OVER (PARTITION BY k ORDER BY c DESC, user_id) AS rn
            FROM cnt
          ) ranked WHERE rn <= {max_members}
        )
        SELECT DISTINCT a.user_id AS src, b.user_id AS dst
        FROM mem a JOIN mem b ON a.k = b.k AND a.user_id <> b.user_id
        """
    ).localCheckpoint(eager=False)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = t["events"].select("user_id").distinct().localCheckpoint(eager=False)
    n = nodes.count()  # control-plane scalar: |nodes| rows exist by definition
    tp = (15 * base) // (100 * n)
    ranks = nodes.withColumn("r", F.lit(base // n))
    contrib_src = (
        edges.join(F.broadcast(outdeg), "src")
        .select("src", "dst", "deg")
        .localCheckpoint(eager=False)
    )
    for i in range(iters):
        sums = (
            contrib_src.join(
                F.broadcast(ranks), contrib_src.src == ranks.user_id
            )
            .selectExpr("dst AS user_id", "r DIV deg AS contrib")
            .groupBy("user_id")
            .agg(F.sum("contrib").cast("bigint").alias("s"))
        )
        ranks = nodes.join(F.broadcast(sums), "user_id", "left").selectExpr(
            "user_id",
            f"CAST({tp} AS BIGINT) + (85 * COALESCE(s, CAST(0 AS BIGINT))) DIV 100 AS r",
        )
        # truncate lineage every few rounds, not every round: each
        # localCheckpoint costs a scheduler round-trip (~0.5 s
        # measured), while a 5-deep broadcast chain optimizes fine
        if (i + 1) % 5 == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return (
        ranks.selectExpr(
            "user_id",
            "r AS rank_e12",
            f"CAST(r AS DOUBLE) / {base}.0 AS pagerank",
        )
        .orderBy(F.desc("rank_e12"), "user_id")
        .limit(top_k)
    )
