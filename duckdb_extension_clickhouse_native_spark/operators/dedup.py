"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (it has no operators at all — SURVEY.md
§2.1), these are the dedup primitives a 100 TB document pipeline
needs, each expressed Spark-first:

* exact dedup            — hash groupBy (one shuffle on the hash key)
* fingerprint dedup      — normalize -> md5 -> groupBy
* MinHash + LSH          — shingle -> k mins -> band -> bucket join;
                           candidate pairs verified by token Jaccard
* SimHash                — per-token 32-bit hash votes -> hamming bands
* n-gram Jaccard         — shared-shingle candidate pairs -> Jaccard
* embedding near-dup     — sign-LSH bucket -> exact cosine (dedup.py
                           sibling in similarity.py)

Every builder here emits BOTH dialects (Spark SQL and DuckDB SQL)
from one template, so the driver's oracle comparison is parity by
construction: identical md5-based hashing, identical integer/decimal
arithmetic, identical tie-breaks.

Scale notes (100 TB): all stages are embarrassingly parallel except
the band-bucket join, which shuffles on (band_idx, band_key) — a
well-distributed md5 key, so no skew; candidate verification joins
fetch only the two token arrays per pair. Nothing collects to the
driver.
"""

from __future__ import annotations

SPARK = {
    "tokens": "split({col}, ' ')",
    "strpos": "instr({hay}, {needle})",
    "list_transform": "transform({arr}, {lam})",
    "list_min": "array_min({arr})",
    "list_sum_bigint": "aggregate({arr}, CAST(0 AS BIGINT), (acc, x) -> acc + x)",
    "range1": "sequence(1, {n})",  # inclusive 1..n, empty when n<1 needs guard
    "slice3": "slice({arr}, {i}, 3)",
    "arr_join": "concat_ws(' ', {arr})",
    "distinct": "array_distinct({arr})",
    "intersect_len": "size(array_intersect({a}, {b}))",
    "len": "size({arr})",
    "string": "STRING",
    "elem": "element_at({arr}, {i})",
    "mklist": "array({x})",
    "xor": "({a} ^ {b})",
}

DUCK = {
    "tokens": "string_split({col}, ' ')",
    "strpos": "strpos({hay}, {needle})",
    "list_transform": "list_transform({arr}, {lam})",
    "list_min": "list_min({arr})",
    "list_sum_bigint": "CAST(list_sum(list_append(list_prepend(CAST(0 AS BIGINT), {arr}), CAST(0 AS BIGINT))) AS BIGINT)",
    "range1": "range(1, {n} + 1)",  # end-exclusive; empty when n<1 (no guard needed)
    "slice3": "{arr}[{i}:{i}+2]",
    "arr_join": "array_to_string({arr}, ' ')",
    "distinct": "list_distinct({arr})",
    "intersect_len": "len(list_intersect({a}, {b}))",
    "len": "len({arr})",
    "string": "VARCHAR",
    "elem": "{arr}[{i}]",
    "mklist": "[{x}]",
    "xor": "xor({a}, {b})",
}


MINHASH_PRIME = 2_147_483_647
# one default for every MinHash surface (batch SQL, Spark production
# path, streaming detector, oracle registration) — drift-proof
MINHASH_DEFAULT_THRESHOLD = 0.4


def _mh_coeffs(n_hashes: int) -> tuple[list[int], list[int]]:
    """Universal-hash family coefficients shared by the batch MinHash
    SQL and the streaming per-row form — one definition, no drift.
    a_i < 2^31 keeps every product under 2^61 (no BIGINT overflow in
    either engine)."""
    return (
        [2 * i * i + 3 * i + 5 for i in range(n_hashes)],  # distinct odd-ish
        [7919 * (i + 1) for i in range(n_hashes)],
    )


def minhash_row_band_exprs(n_hashes: int = 12, bands: int = 4) -> list[list[str]]:
    """Spark selectExpr stages computing MinHash band keys PER ROW with
    array higher-order functions — no explode, no groupBy, so the same
    signature math the batch form computes with an exploded aggregation
    (``minhash_lsh_sql``) becomes a STATELESS streaming map: a document
    is wholly contained in its row, so MIN over its shingles is
    ``array_min`` over an array, not an aggregate. Values are
    bit-identical to the batch form by construction (same md5-int28,
    same universal-hash family via ``_mh_coeffs``, same band-key
    concat). Returns a list of selectExpr stages to apply in order to a
    relation with columns (doc_id, text, ...); the final stage yields
    (doc_id, band0..band{bands-1})."""
    d = SPARK
    rows = n_hashes // bands
    _as, _bs = _mh_coeffs(n_hashes)
    sh = d["distinct"].format(arr=_shingles_expr(d, "split(text, ' ')"))
    h30 = _hex_int_expr(d, "md5(s)", nibbles=7)
    stage1 = ["doc_id", f"transform({sh}, s -> {h30}) AS hs"]
    stage2 = ["doc_id"] + [
        f"array_min(transform(hs, h -> ({_as[i]} * h + {_bs[i]}) % {MINHASH_PRIME})) AS m{i}"
        for i in range(n_hashes)
    ]
    stage3 = ["doc_id"] + [
        "md5(concat("
        + ", '|', ".join(f"CAST(m{b * rows + r} AS STRING)" for r in range(rows))
        + f")) AS band{b}"
        for b in range(bands)
    ]
    return [stage1, stage2, stage3]


def _hex_int_expr(d: dict, h: str, offset: int = 0, nibbles: int = 15) -> str:
    """Integer value of hex chars [offset+1 .. offset+nibbles] of the
    md5 hex string ``h``. Both dialects produce the same BIGINT (this
    value feeds signatures/buckets, so it MUST be engine-identical),
    but compute it differently: Spark has ``conv(hex, 16, 10)`` —
     2.2x faster than per-nibble extraction (measured at sf0.1) —
    while DuckDB lacks conv and builds it nibble-by-nibble with
    strpos (the oracle side, where speed doesn't matter). Equivalence
    is pinned by test_hex_int_conv_equivalence. 15 nibbles = 60 bits,
    comfortably inside BIGINT."""
    if d is SPARK:
        return (
            f"CAST(conv(substr({h}, {offset + 1}, {nibbles}), 16, 10) AS BIGINT)"
        )
    # parenthesized: callers append operators like `% m` to this
    # expression, and an unwrapped 15-term sum would bind the modulo
    # to the last term only (bloomjoin bucket ids were silently
    # unbounded on the DuckDB dialect before this wrap)
    return "(" + " + ".join(
        "CAST(("
        + d["strpos"].format(
            hay="'0123456789abcdef'", needle=f"substr({h}, {offset + j + 1}, 1)"
        )
        + f" - 1) AS BIGINT) * {16 ** (nibbles - 1 - j)}"
        for j in range(nibbles)
    ) + ")"


def _shingles_expr(d: dict, tokens: str) -> str:
    """3-token shingle strings; docs shorter than 3 tokens get one
    shingle = the whole text."""
    n = d["len"].format(arr=tokens)
    body = d["list_transform"].format(
        arr=d["range1"].format(n=f"{n} - 2"),
        lam="i -> " + d["arr_join"].format(arr=d["slice3"].format(arr=tokens, i="i")),
    )
    whole = d["mklist"].format(x=d["arr_join"].format(arr=tokens))
    return f"CASE WHEN {n} >= 3 THEN {body} ELSE {whole} END"


def minhash_lsh_sql(
    dialect: str,
    n_hashes: int = 12,
    bands: int = 4,
    threshold: float = MINHASH_DEFAULT_THRESHOLD,
) -> str:
    """Candidate near-dup pairs via MinHash banding, verified by exact
    token Jaccard. ``n_hashes`` mins split into ``bands`` bands; docs
    sharing any band bucket are candidates.

    MinHash_i(doc) = min over shingles s of h_i(s), where h_i is a
    universal-hash family over the 28-bit integer value of md5(s):
    h_i(s) = (a_i * int28(md5(s)) + b_i) mod (2^31 - 1). One md5 per
    shingle row (not per variant — 12x fewer digest evaluations), with
    every derived value pure BIGINT arithmetic that both engines
    compute identically, so signatures (and therefore buckets, pairs,
    and Jaccard values) are engine-independent.

    Shape (scale-minded): distinct shingles are exploded ONCE and the
    k mins are one grouped aggregation over the shingle rows (k MIN
    columns) -- no nested array re-scans per hash; the band-bucket
    join shuffles on an md5 key (uniform, skew-free); verification
    touches only candidate pairs.
    """
    d = SPARK if dialect == "spark" else DUCK
    rows = n_hashes // bands
    explode_fn = "explode" if dialect == "spark" else "unnest"
    # ONE md5 per shingle row; the k hash variants come from a
    # universal-hash family over its 60-bit integer value:
    #   h_i = (a_i * (h mod 2^30) + b_i) mod (2^31 - 1)
    # a_i < 2^31 keeps every product under 2^61 — no BIGINT overflow in
    # either engine (DuckDB errors on overflow; Spark wraps). 12x fewer
    # md5 evaluations than hashing per (variant, shingle).
    _PRIME = MINHASH_PRIME
    _as, _bs = _mh_coeffs(n_hashes)
    mins = ",\n             ".join(
        f"MIN(({_as[i]} * h30 + {_bs[i]}) % {_PRIME}) AS m{i}"
        for i in range(n_hashes)
    )
    band_keys = ", ".join(
        "md5(concat("
        + ", '|', ".join(f"CAST(m{b*rows+r} AS {d['string']})" for r in range(rows))
        + f")) AS band{b}"
        for b in range(bands)
    )
    # bands are UNPIVOTED with a generator, not UNION ALL: union branches
    # would make Catalyst recompute the whole sigs aggregation once per
    # band per join side (8x at bands=4)
    band_arr = ", ".join(f"band{b}" for b in range(bands))
    if dialect == "spark":
        band_rows = (
            "SELECT doc_id, band_idx, band_key FROM banded "
            f"LATERAL VIEW posexplode(array({band_arr})) t AS band_idx, band_key"
        )
    else:
        band_rows = (
            f"SELECT doc_id, generate_subscripts([{band_arr}], 1) - 1 AS band_idx, "
            f"unnest([{band_arr}]) AS band_key FROM banded"
        )
    return f"""
    WITH docs AS (
      SELECT doc_id, {d['tokens'].format(col='text')} AS toks FROM documents
    ),
    shingled AS (
      SELECT doc_id, {d['distinct'].format(arr='toks')} AS toks_d,
             {d['distinct'].format(arr=_shingles_expr(d, 'toks'))} AS sh
      FROM docs
    ),
    sh_rows AS (
      SELECT doc_id, {explode_fn}(sh) AS shingle FROM shingled
    ),
    sh_hashed AS (
      SELECT doc_id, {_hex_int_expr(d, 'md5(shingle)', nibbles=7)} AS h30
      FROM sh_rows
    ),
    sigs AS (
      SELECT doc_id,
             {mins}
      FROM sh_hashed GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, {band_keys} FROM sigs
    ),
    band_rows AS ({band_rows}),{minhash_verify_tail_sql(d, 'band_rows', 'shingled', threshold)}"""


def minhash_verify_pairs_sql(
    d: dict, cand_rel: str, shingled_rel: str, threshold: float
) -> str:
    """Exact token-Jaccard verification of a (doc_a, doc_b) candidate
    relation against a shingled relation (CTE-chain tail; both
    dialects). Shared by the batch band self-join and the streaming
    detector's post-pass — one Jaccard formula, no drift."""
    inter = d["intersect_len"].format(a="a.toks_d", b="b.toks_d")
    la = d["len"].format(arr="a.toks_d")
    lb = d["len"].format(arr="b.toks_d")
    return f"""
    verified AS (
      SELECT c.doc_a, c.doc_b,
             CAST({inter} AS DOUBLE) /
             CAST({la} + {lb} - {inter} AS DOUBLE) AS jaccard
      FROM {cand_rel} c
      JOIN {shingled_rel} a ON a.doc_id = c.doc_a
      JOIN {shingled_rel} b ON b.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {threshold}
    """


def minhash_verify_tail_sql(
    d: dict, band_rel: str, shingled_rel: str, threshold: float
) -> str:
    """Band-bucket candidate join + exact-Jaccard verification over
    pre-built band-row and shingled relations (CTE-chain tail)."""
    return f"""
    candidates AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM {band_rel} a JOIN {band_rel} b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),{minhash_verify_pairs_sql(d, "candidates", shingled_rel, threshold)}"""


def minhash_lsh_query(
    spark,
    sf_dir: str,
    n_hashes: int = 12,
    bands: int = 4,
    threshold: float = MINHASH_DEFAULT_THRESHOLD,
):
    """Spark production path for ``dedup_minhash_lsh``: checkpoint the
    shingled docs (consumed by the signature chain AND both sides of
    the verification join) and the band rows (both sides of the
    candidate self-join). Catalyst inlines CTEs, so the single-SQL form
    re-tokenizes and re-hashes the corpus ~4x. At 100 TB these two
    relations are exactly the checkpoints you materialize: shingled is
    corpus-sized (read 3x), band_rows is 4 small rows per doc."""
    from ..plans.base import load_tables

    d = SPARK
    load_tables(spark, sf_dir, ["documents"])
    # NOT data_sized_shuffle'd (r16): the driver's r15 scaling block
    # measured this entry at ratio 1.03 (not anti-scaling), and the
    # r16 paired A/B read sizing as neutral-to-negative here (2.28 vs
    # 2.65 s on a noisy host) — the verify joins benefit from the
    # wider default
    shingled = spark.sql(f"""
      SELECT doc_id, {d['distinct'].format(arr='toks')} AS toks_d,
             {d['distinct'].format(arr=_shingles_expr(d, 'toks'))} AS sh
      FROM (SELECT doc_id, {d['tokens'].format(col='text')} AS toks
            FROM documents) docs""")
    shingled.localCheckpoint(eager=False).createOrReplaceTempView("mh_shingled")
    _PRIME = MINHASH_PRIME
    _as, _bs = _mh_coeffs(n_hashes)
    rows = n_hashes // bands
    mins = ", ".join(
        f"MIN(({_as[i]} * h30 + {_bs[i]}) % {_PRIME}) AS m{i}" for i in range(n_hashes)
    )
    band_keys = ", ".join(
        "md5(concat("
        + ", '|', ".join(f"CAST(m{b*rows+r} AS {d['string']})" for r in range(rows))
        + f")) AS band{b}"
        for b in range(bands)
    )
    band_arr = ", ".join(f"band{b}" for b in range(bands))
    band_rows = spark.sql(f"""
      WITH sh_hashed AS (
        SELECT doc_id, {_hex_int_expr(d, 'md5(shingle)', nibbles=7)} AS h30
        FROM (SELECT doc_id, explode(sh) AS shingle FROM mh_shingled) sh_rows
      ),
      banded AS (
        SELECT doc_id, {band_keys}
        FROM (SELECT doc_id, {mins} FROM sh_hashed GROUP BY doc_id) sigs
      )
      SELECT doc_id, band_idx, band_key FROM banded
      LATERAL VIEW posexplode(array({band_arr})) t AS band_idx, band_key""")
    band_rows.localCheckpoint(eager=False).createOrReplaceTempView("mh_band_rows")
    return spark.sql(
        "WITH "
        + minhash_verify_tail_sql(d, "mh_band_rows", "mh_shingled", threshold).lstrip()
    )


def simhash_sql(dialect: str, hamming_max: int = 3, chain_only: bool = False) -> str:
    """Per-document 64-bit SimHash + near-dup pairs.

    The 64-bit signature is computed as two 32-bit halves (so every
    intermediate fits comfortably in BIGINT): hash_half(token) =
    integer value of hex chars [1..8] / [9..16] of md5(token), built
    nibble-by-nibble with strpos/instr so both engines compute
    identical integers without conv()/from_hex().

    Shape (scale-minded): explode tokens ONCE, hash each token row
    once, then 64 conditional-SUM vote columns in a single groupBy --
    rows = docs x tokens, not docs x tokens x bits. Candidates share
    one of four 16-bit bands; pairs within ``hamming_max`` emitted.
    """
    d = SPARK if dialect == "spark" else DUCK
    toks_d = d["distinct"].format(arr=d["tokens"].format(col="text"))
    explode = (
        f"SELECT doc_id, explode({toks_d}) AS t FROM documents"
        if dialect == "spark"
        else f"SELECT doc_id, unnest({toks_d}) AS t FROM documents"
    )

    def half(offset: int) -> str:
        return _hex_int_expr(d, "h", offset, 8)

    # bit-count votes instead of CASE-WHEN ±1 sums (r9): the ±1 vote
    # sum is 2*SUM(bit) - n, so "votes > 0" ⟺ "2*SUM(bit) > n" — same
    # signatures (pinned by tests), ~10% less codegen work per row
    votes = "COUNT(*) AS n_t,\n             " + ",\n             ".join(
        f"SUM((h_lo >> {j}) & 1) AS bl{j}, "
        f"SUM((h_hi >> {j}) & 1) AS bh{j}"
        for j in range(32)
    )
    sim_lo = " + ".join(
        f"(CASE WHEN 2 * bl{j} > n_t THEN CAST({2 ** j} AS BIGINT) ELSE 0 END)"
        for j in range(32)
    )
    sim_hi = " + ".join(
        f"(CASE WHEN 2 * bh{j} > n_t THEN CAST({2 ** j} AS BIGINT) ELSE 0 END)"
        for j in range(32)
    )
    bands = ", ".join(
        f"CAST((sim_lo >> {16 * b}) & 65535 AS BIGINT) AS band{b}" for b in range(2)
    ) + ", " + ", ".join(
        f"CAST((sim_hi >> {16 * b}) & 65535 AS BIGINT) AS band{b + 2}" for b in range(2)
    )
    # generator unpivot, not UNION ALL — see minhash_lsh_sql
    band_arr = ", ".join(f"band{b}" for b in range(4))
    if dialect == "spark":
        band_rows = (
            "SELECT doc_id, sim_lo, sim_hi, band_idx, band_val FROM sig_bands "
            f"LATERAL VIEW posexplode(array({band_arr})) t AS band_idx, band_val"
        )
    else:
        band_rows = (
            f"SELECT doc_id, sim_lo, sim_hi, "
            f"generate_subscripts([{band_arr}], 1) - 1 AS band_idx, "
            f"unnest([{band_arr}]) AS band_val FROM sig_bands"
        )
    chain = f"""
    WITH tok AS ({explode}),
    hashed AS (
      SELECT doc_id, {half(0)} AS h_lo, {half(8)} AS h_hi
      FROM (SELECT doc_id, md5(t) AS h FROM tok) m
    ),
    votes AS (
      SELECT doc_id,
             {votes}
      FROM hashed GROUP BY doc_id
    ),
    sigs AS (
      SELECT doc_id, {sim_lo} AS sim_lo, {sim_hi} AS sim_hi FROM votes
    ),
    sig_bands AS (
      SELECT doc_id, sim_lo, sim_hi, {bands} FROM sigs
    ),
    band_rows AS ({band_rows})"""
    if chain_only:
        return f"{chain} SELECT * FROM band_rows"
    return f"{chain},{simhash_pairs_tail_sql(d, 'band_rows', hamming_max)}"


def simhash_pairs_tail_sql(d: dict, band_rel: str, hamming_max: int) -> str:
    """Band-bucket candidate self-join + hamming filter over a
    pre-built (doc_id, sim_lo, sim_hi, band_idx, band_val) relation
    (CTE-chain tail)."""
    xor_lo = d["xor"].format(a="lo_a", b="lo_b")
    xor_hi = d["xor"].format(a="hi_a", b="hi_b")
    hamming = f"(bit_count({xor_lo}) + bit_count({xor_hi}))"
    # hamming filter applied INSIDE the band join, before DISTINCT —
    # an order-of-magnitude fewer rows go through the dedup exchange
    join_xor_lo = d["xor"].format(a="a.sim_lo", b="b.sim_lo")
    join_xor_hi = d["xor"].format(a="a.sim_hi", b="b.sim_hi")
    return f"""
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sim_lo AS lo_a, a.sim_hi AS hi_a,
             b.sim_lo AS lo_b, b.sim_hi AS hi_b
      FROM {band_rel} a JOIN {band_rel} b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
      WHERE (bit_count({join_xor_lo}) + bit_count({join_xor_hi})) <= {hamming_max}
    )
    SELECT doc_a, doc_b,
           CAST({hamming} AS BIGINT) AS hamming
    FROM pairs
    """


def simhash_query(spark, sf_dir: str, hamming_max: int = 3):
    """Spark production path for ``dedup_simhash``: the single-SQL form
    recomputes the whole explode -> hash -> 64-vote chain on BOTH sides
    of the band self-join (Catalyst inlines CTEs). Materialize the band
    rows ONCE — 4 rows x 5 BIGINT-ish columns per doc, the natural
    checkpoint before the quadratic-ish candidate stage at 100 TB.

    r15 optimization round: this used to persist() the band rows, but
    the cache substitution never fired through this WITH-tail view
    reference — the executed plan carried FOUR parquet scans and two
    full sig chains (plans/r15/dedup_simhash_before.txt, zero
    InMemoryTableScan nodes). localCheckpoint(eager=False) computes the
    chain once at the first action and both self-join branches read the
    materialized blocks (measured 1.92 -> 1.20 s at sf0.1; at cluster
    scale use checkpoint() to durable storage, same shape)."""
    from ..plans.base import data_sized_shuffle, load_tables

    load_tables(spark, sf_dir, ["documents"])
    # the checkpointed chain materializes at session shuffle.partitions
    # (checkpointed plans never AQE-coalesce afterwards); size it to the
    # corpus, not the core count (r15 driver scaling: 0.90 at 32 cores)
    data_sized_shuffle(spark, sf_dir, ["documents"])
    band_rows = spark.sql(
        simhash_sql("spark", hamming_max, chain_only=True)
    ).localCheckpoint(eager=False)
    band_rows.createOrReplaceTempView("sh_band_rows")
    return spark.sql(
        "WITH " + simhash_pairs_tail_sql(SPARK, "sh_band_rows", hamming_max).lstrip()
    )


def ngram_jaccard_sql(dialect: str, threshold: float = 0.5, max_df: int = 20) -> str:
    """n-gram (3-token shingle) Jaccard near-dup pairs over the
    df-filtered shingle universe.

    Shingles with document frequency > ``max_df`` are dropped BEFORE
    pairing — the n-gram analogue of stopword removal: boilerplate
    phrases shared by everyone both (a) explode the inverted-index
    self-join quadratically (a df-k shingle yields k^2/2 join rows)
    and (b) inflate similarity between unrelated docs. Jaccard is then
    computed exactly on the surviving (discriminative) shingles:
    |A∩B| is a grouped COUNT over the shared index rows and |A|,|B|
    come from a per-doc count — no array re-scans anywhere.

    Dialect asymmetry (1.9x Spark speedup, measured at sf0.1): the
    shingle never reaches the output — only distinct-counts of it do —
    so each engine may key the index however it likes as long as
    distinctness is preserved ENGINE-LOCALLY. Spark hashes each token
    triple with the n-ary ``xxhash64(t1,t2,t3)`` builtin (no per-
    shingle string construction at all, BIGINT exchange rows) and
    applies the df cap as one windowed count over the same shuffle;
    DuckDB (the oracle — correctness, not speed) keeps exact string
    shingles. A 64-bit collision would merge two shingles (~1e-9 over
    3e5 shingles); unlike MinHash/SimHash — whose hash VALUES select
    candidates and appear in the output, so they must stay md5-based
    and engine-identical — a collision here only perturbs a count.

    Scale: every stage is keyed on the shingle hash or doc id; the df
    cap bounds each reducer's worst case at C(max_df, 2) pairs per
    shingle regardless of corpus size — this is what makes the
    operator safe at 100 TB.
    """
    if dialect == "spark":
        index = f"""
    inverted_f AS ({ngram_inverted_spark_sql(max_df)})"""
    else:
        d = DUCK
        index = f"""
    docs AS (
      SELECT doc_id, {d['tokens'].format(col='text')} AS toks FROM documents
    ),
    shingled AS (
      SELECT doc_id, {d['distinct'].format(arr=_shingles_expr(d, 'toks'))} AS sh_d FROM docs
    ),
    inverted AS (SELECT doc_id, unnest(sh_d) AS shingle FROM shingled),
    rare AS (
      SELECT shingle FROM inverted GROUP BY shingle HAVING COUNT(*) <= {max_df}
    ),
    inverted_f AS (
      SELECT i.doc_id, i.shingle FROM inverted i JOIN rare r ON i.shingle = r.shingle
    )"""
    return f"WITH {index},{ngram_pairs_tail_sql('inverted_f', threshold)}"


def ngram_inverted_spark_sql(max_df: int = 20) -> str:
    """The df-filtered inverted index as a standalone Spark SELECT —
    (doc_id, shingle BIGINT) with document frequency <= max_df."""
    triples = (
        "CASE WHEN size(toks) >= 3 THEN "
        "array_distinct(transform(sequence(1, size(toks) - 2), "
        "i -> xxhash64(element_at(toks, i), element_at(toks, i + 1), "
        "element_at(toks, i + 2)))) "
        "ELSE array(xxhash64(text)) END"
    )
    return f"""
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM (
          SELECT doc_id, explode({triples}) AS shingle
          FROM (SELECT doc_id, text, split(text, ' ') AS toks FROM documents) docs
        ) inverted
      ) w WHERE df <= {max_df}"""


def ngram_pairs_tail_sql(inverted_rel: str, threshold: float = 0.5) -> str:
    """Exact Jaccard pair verification over a (doc_id, shingle)
    inverted-index relation (CTE-chain tail; both dialects)."""
    return f"""
    sized AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM {inverted_rel} GROUP BY doc_id
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM {inverted_rel} a JOIN {inverted_rel} b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    verified AS (
      SELECT doc_a, doc_b,
             CAST(n_inter AS DOUBLE) /
             CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
      FROM inter
      JOIN sized sa ON sa.doc_id = doc_a
      JOIN sized sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {threshold}
    """


def ngram_jaccard_query(spark, sf_dir: str):
    """Spark production path for ``dedup_ngram_jaccard``: checkpoint the
    df-filtered inverted index before its three consumers (per-doc
    sizes + both self-join sides) — Catalyst inlines CTEs, so without
    this the explode + df-window recomputes 3x (measured 4 Generate/
    Window nodes in the executed plan, 1.67 s -> ~1.0 s at sf0.1).
    Materializing the filtered inverted index is also the 100 TB
    posture: it is the unit you checkpoint before the quadratic-ish
    pairing stage, and it is small (two BIGINTs per posting,
    boilerplate shingles already dropped)."""
    from ..plans.base import data_sized_shuffle, load_tables

    load_tables(spark, sf_dir, ["documents"])
    # the checkpointed index materializes at session shuffle.partitions
    # (checkpointed plans never AQE-coalesce: zero-size reducers each
    # paid a window sort + block write); size to the corpus, not the
    # cores — the r15 scaling run measured this entry 3x SLOWER at 32
    # cores than 8
    data_sized_shuffle(spark, sf_dir, ["documents"])
    inv = spark.sql(ngram_inverted_spark_sql())
    inv.localCheckpoint(eager=False).createOrReplaceTempView("ngram_inverted_f")
    return spark.sql("WITH " + ngram_pairs_tail_sql("ngram_inverted_f").lstrip())


def incremental_dedup_sql(
    dialect: str, delta_mod: int = 5, threshold: float = 0.5, max_df: int = 20
) -> str:
    """Incremental (delta-vs-base) dedup — the daily-ingestion shape:
    new documents (``doc_id % delta_mod == 0``, standing in for an
    ingest batch) are checked against the existing corpus only; the
    verdict per delta doc is ``near_dup`` (with its best base match
    and Jaccard) or ``new``. Delta docs are never compared with each
    other — that intra-batch pass is ``dedup_ngram_jaccard``'s job.

    Scale shape: in production the base inverted index is a
    MATERIALIZED table bucketed by shingle (built once, appended per
    batch); the delta probe joins a small batch against it — the
    batch side broadcasts, only hit rows shuffle, and the base corpus
    is never rescanned. Here both sides derive from one corpus scan
    (conformance), with the same df-cap as dedup_ngram_jaccard
    bounding every reducer. Spark keys shingles with xxhash64 triples,
    DuckDB with exact strings (dialect-asymmetry rule — the shingle
    never reaches the output)."""
    if dialect == "spark":
        triples = (
            "CASE WHEN size(toks) >= 3 THEN "
            "array_distinct(transform(sequence(1, size(toks) - 2), "
            "i -> xxhash64(element_at(toks, i), element_at(toks, i + 1), "
            "element_at(toks, i + 2)))) "
            "ELSE array(xxhash64(text)) END"
        )
        index = f"""
    inverted AS (
      SELECT doc_id, explode({triples}) AS shingle
      FROM (SELECT doc_id, text, split(text, ' ') AS toks FROM documents) docs
    ),
    inverted_f AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM inverted
      ) w WHERE df <= {max_df}
    )"""
    else:
        d = DUCK
        index = f"""
    docs AS (
      SELECT doc_id, {d['tokens'].format(col='text')} AS toks FROM documents
    ),
    shingled AS (
      SELECT doc_id, {d['distinct'].format(arr=_shingles_expr(d, 'toks'))} AS sh_d FROM docs
    ),
    inverted AS (SELECT doc_id, unnest(sh_d) AS shingle FROM shingled),
    rare AS (
      SELECT shingle FROM inverted GROUP BY shingle HAVING COUNT(*) <= {max_df}
    ),
    inverted_f AS (
      SELECT i.doc_id, i.shingle FROM inverted i JOIN rare r ON i.shingle = r.shingle
    )"""
    return f"""
    WITH {index},
    sized AS (SELECT doc_id, COUNT(*) AS n_sh FROM inverted_f GROUP BY doc_id),
    delta AS (SELECT doc_id, shingle FROM inverted_f WHERE doc_id % {delta_mod} = 0),
    base AS (SELECT doc_id, shingle FROM inverted_f WHERE doc_id % {delta_mod} <> 0),
    inter AS (
      SELECT d.doc_id AS delta_id, b.doc_id AS base_id, COUNT(*) AS n_inter
      FROM delta d JOIN base b ON d.shingle = b.shingle
      GROUP BY d.doc_id, b.doc_id
    ),
    scored AS (
      SELECT delta_id, base_id,
             CAST(n_inter AS DOUBLE) /
             CAST(sd.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
      FROM inter
      JOIN sized sd ON sd.doc_id = delta_id
      JOIN sized sb ON sb.doc_id = base_id
    ),
    best AS (
      SELECT delta_id, base_id, jaccard FROM (
        SELECT delta_id, base_id, jaccard,
               ROW_NUMBER() OVER (
                 PARTITION BY delta_id ORDER BY jaccard DESC, base_id) AS rn
        FROM scored WHERE jaccard >= {threshold}
      ) r WHERE rn = 1
    )
    SELECT a.doc_id,
           CASE WHEN b.base_id IS NULL THEN 'new' ELSE 'near_dup' END AS status,
           b.base_id AS match_id,
           b.jaccard AS jaccard
    FROM (SELECT doc_id FROM documents WHERE doc_id % {delta_mod} = 0) a
    LEFT JOIN best b ON a.doc_id = b.delta_id
    """


EXACT_DEDUP_SQL = """
    SELECT MIN(doc_id) AS kept_doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
"""

FINGERPRINT_DEDUP_SQL = """
    SELECT md5(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ''))) AS fingerprint,
           MIN(doc_id) AS kept_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
"""


def substring_spans_sql(dialect: str, w: int = 8) -> str:
    """Exact duplicated-substring spans, the fixed-window form of
    suffix-array substring dedup (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): report every maximal
    token region covered by a ``w``-token window whose exact text
    occurs more than once anywhere in the corpus. The spans are what a
    pipeline CUTS before training (as opposed to the doc-level
    near-dup operators above, which DROP whole documents).

    Shape (both dialects, identical semantics):
      1. slide a ``w``-token window over each doc -> one (doc_id,
         start, gram) row per occurrence;
      2. ``COUNT(*) OVER (PARTITION BY gram)`` marks duplicated
         windows — ONE pass, one shuffle keyed by gram text, no
         self-join and no second tokenize (the naive
         GROUP-BY-then-join-back form scans the corpus twice);
      3. gaps-and-islands per doc (start - ROW_NUMBER) merges runs of
         consecutive duplicated starts into maximal spans.

    Scale posture (100 TB): stage 2's key space is ~one gram per
    corpus token — high cardinality, uniform except boilerplate
    grams. A hot gram lands WHOLE on one reducer (window partitions
    are not AQE-splittable — only joins are), but its rows are
    occurrences, never pairs: 16 bytes each, spilling not exploding,
    so nothing quadratic exists in this plan. The skew-immune
    alternative (GROUP BY gram HAVING c>1 with map-side combine +
    AQE-splittable semi-join back) was built and MEASURED SLOWER at
    every tested skew level — 6.6 vs 4.1 s uniform and 16.5 vs 9.6 s
    on a 93-hot-grams x 50k-occurrences boilerplate corpus
    (SCALE_PIPELINE.md: the double gram generation and the sort-merge
    semi-join cost more than the hot reducer saves) — so the one-pass
    window stands. Stage 3 shuffles once by doc_id.

    Dialect asymmetry (the ``ngram_jaccard_sql`` precedent): the gram
    never reaches the output — only its duplicate COUNT does — so each
    engine may key it however it likes as long as distinctness is
    preserved ENGINE-LOCALLY. Spark hashes the w-token slice with the
    n-ary ``xxhash64`` builtin (no per-position string construction,
    8-byte exchange keys); DuckDB (the oracle — correctness, not
    speed) keeps the exact gram text. A 64-bit collision would merge
    two grams (~1e-11 at sf0.1 scale) and only ever ADD a span —
    detectable by the hash compare, not silent. The reference engine
    has no dedup surface at all (SURVEY.md §2.1); this row is
    pipeline-tier.
    """
    d = SPARK if dialect == "spark" else DUCK
    n = d["len"].format(arr="tk")
    if dialect == "spark":
        slice_args = ", ".join(f"element_at(tk, i + {j})" for j in range(w))
        grams = f"""
    grams AS (
      SELECT doc_id, CAST(idx + 1 AS BIGINT) AS start, gram
      FROM toks
      LATERAL VIEW posexplode(
        CASE WHEN {n} >= {w}
             THEN transform(sequence(1, {n} - {w} + 1),
                            i -> xxhash64({slice_args}))
             ELSE CAST(array() AS ARRAY<BIGINT>) END) t AS idx, gram
    )"""
    else:
        # DuckDB zips parallel unnests positionally; range() is empty
        # when the doc is shorter than w
        grams = f"""
    grams AS (
      SELECT doc_id,
             CAST(unnest(range(1, GREATEST({n} - {w} + 1, 0) + 1)) AS BIGINT) AS start,
             unnest(list_transform(range(1, GREATEST({n} - {w} + 1, 0) + 1),
                    i -> array_to_string(tk[i:i+{w}-1], ' '))) AS gram
      FROM toks
    )"""
    occ = """
    occ AS (
      SELECT doc_id, start FROM (
        SELECT doc_id, start, COUNT(*) OVER (PARTITION BY gram) AS c
        FROM grams
      ) g WHERE c > 1
    )"""
    return f"""
    WITH toks AS (
      SELECT doc_id, {d['tokens'].format(col='text')} AS tk FROM documents
    ),{grams},{substring_spans_tail_sql(occ, w)}"""


def substring_spans_tail_sql(occ_cte: str, w: int) -> str:
    """Islands merge + span projection over an ``occ`` (doc_id, start)
    CTE — shared by the window plan and the two-phase fallback so the
    span semantics cannot drift (both dialects)."""
    return f"""{occ_cte},
    isl AS (
      SELECT doc_id, start,
             start - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start)
               AS island
      FROM occ
    ),
    spans AS (
      SELECT doc_id, MIN(start) AS s, MAX(start) + {w} - 1 AS e,
             COUNT(*) AS n_windows
      FROM isl GROUP BY doc_id, island
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(s AS BIGINT) AS span_start,
           CAST(e AS BIGINT) AS span_end,
           CAST(e - s + 1 AS BIGINT) AS span_tokens,
           CAST(n_windows AS BIGINT) AS n_windows
    FROM spans
    ORDER BY doc_id, span_start
    """


# auto-strategy decision cache, keyed by (sf_dir, w) — the estimate
# is a sampled job; one decision per dataset per session (the asof
# _AUTO_DECISIONS precedent, operators/asof.py)
_SPAN_AUTO_DECISIONS: dict = {}

# measured crossover (SCALE_PIPELINE.md, substring-skew section): the
# two-phase form wins from ~50k occurrences of the hottest gram
# (63.5 s window vs 26.2 s two-phase at 5M occ); below it the window
# form wins at every tested skew level
SPAN_HOT_GRAM_CROSSOVER = 50_000


def _estimate_max_gram_occ(spark, sf_dir: str, w: int, sample_docs: int = 4096) -> int:
    """Sampled hottest-gram occurrence estimate for the auto strategy.

    Grams a uniform doc sample, counts the hottest hash, scales by the
    inverse sampling fraction.  Order-of-magnitude accuracy is enough:
    the decision threshold (50k) sits >100x above any non-pathological
    corpus and >100x below the regime where the window plan breaks.
    Cost: one bounded job over ~``sample_docs`` docs + a 1-row
    collect."""
    from ..plans.base import load_tables

    t = load_tables(spark, sf_dir, ["documents"])
    n_docs = t["documents"].count()
    if n_docs == 0:
        return 0
    frac = min(1.0, sample_docs / n_docs)
    sample = (
        t["documents"].sample(fraction=frac, seed=7)
        if frac < 1.0
        else t["documents"]
    )
    d = SPARK
    n = d["len"].format(arr="tk")
    slice_args = ", ".join(f"element_at(tk, i + {j})" for j in range(w))
    sample.selectExpr(f"{d['tokens'].format(col='text')} AS tk").createOrReplaceTempView(
        "_span_probe_toks"
    )
    hottest = spark.sql(f"""
        SELECT COUNT(*) AS c FROM (
          SELECT explode(
            CASE WHEN {n} >= {w}
                 THEN transform(sequence(1, {n} - {w} + 1),
                                i -> xxhash64({slice_args}))
                 ELSE CAST(array() AS ARRAY<BIGINT>) END) AS gram
          FROM _span_probe_toks
        ) g GROUP BY gram ORDER BY c DESC LIMIT 1
    """).collect()
    top = hottest[0]["c"] if hottest else 0
    return int(top / frac)


def substring_spans_query(
    spark, sf_dir: str, w: int = 8, strategy: str = "auto"
):
    """``dedup_substring_spans`` with a strategy switch (r9 verdict #5):

    * ``window`` — the one-pass COUNT-OVER plan (default winner at
      every measured non-pathological skew level);
    * ``twophase`` — the AQE-splittable two-phase-count + semi-join
      escape hatch for extreme gram hotness;
    * ``auto`` — samples the corpus (``_estimate_max_gram_occ``) and
      picks ``twophase`` past the measured ~50k-occurrences-per-gram
      crossover, ``window`` below it.  Decision cached per
      (sf_dir, w) for the session."""
    if strategy == "auto":
        key = (sf_dir, w)
        if key not in _SPAN_AUTO_DECISIONS:
            est = _estimate_max_gram_occ(spark, sf_dir, w)
            _SPAN_AUTO_DECISIONS[key] = (
                "twophase" if est >= SPAN_HOT_GRAM_CROSSOVER else "window"
            )
        strategy = _SPAN_AUTO_DECISIONS[key]
    if strategy == "twophase":
        return substring_spans_twophase_query(spark, sf_dir, w)
    if strategy != "window":
        raise ValueError(f"unknown strategy {strategy!r}")
    from ..plans.base import data_sized_shuffle, load_tables

    load_tables(spark, sf_dir, ["documents"])
    # gram window + islands window sized to the corpus (driver r15
    # scaling block: 0.65 ratio at 32 vs 8 cores on this entry)
    data_sized_shuffle(spark, sf_dir, ["documents"])
    return spark.sql(substring_spans_sql("spark", w))


def substring_spans_twophase_query(spark, sf_dir: str, w: int = 8):
    """Skew escape hatch for ``dedup_substring_spans`` (VERDICT r8 #6):
    identical output, different COUNT stage. The default window plan
    lands every occurrence of a gram on ONE reducer (window partitions
    are not AQE-splittable); at extreme gram hotness (boilerplate
    pasted millions of times) that reducer becomes the job. This form:

      1. materializes the gram rows ONCE (localCheckpoint — the r7 A/B
         alternative lost partly because CTE inlining regenerated the
         explode on both semi-join sides);
      2. per-gram counts via a two-phase hash aggregation — map-side
         partial counts bound any reducer's input at one row per gram
         per mapper, regardless of hotness (the "salt" is the input
         partitioning itself);
      3. LEFT SEMI JOIN back to the occurrences — a JOIN, which AQE's
         skew-join splitting CAN divide, unlike the window.

    Measured crossover vs the window plan is recorded in
    SCALE_PIPELINE.md (substring-skew section); below it the window
    wins, above it this does. Same DuckDB oracle as the window form —
    the two plans are hash-compared against each other through it."""
    from ..plans.base import data_sized_shuffle, load_tables

    load_tables(spark, sf_dir, ["documents"])
    data_sized_shuffle(spark, sf_dir, ["documents"])
    d = SPARK
    n = d["len"].format(arr="tk")
    slice_args = ", ".join(f"element_at(tk, i + {j})" for j in range(w))
    grams = spark.sql(f"""
      SELECT doc_id, CAST(idx + 1 AS BIGINT) AS start, gram
      FROM (SELECT doc_id, {d['tokens'].format(col='text')} AS tk
            FROM documents) toks
      LATERAL VIEW posexplode(
        CASE WHEN {n} >= {w}
             THEN transform(sequence(1, {n} - {w} + 1),
                            i -> xxhash64({slice_args}))
             ELSE CAST(array() AS ARRAY<BIGINT>) END) t AS idx, gram""")
    grams.localCheckpoint(eager=False).createOrReplaceTempView("ss_grams")
    occ = """
    occ AS (
      SELECT g.doc_id, g.start
      FROM ss_grams g
      LEFT SEMI JOIN (
        SELECT gram FROM ss_grams GROUP BY gram HAVING COUNT(*) > 1
      ) dup ON g.gram = dup.gram
    )"""
    return spark.sql("WITH " + substring_spans_tail_sql(occ, w).lstrip())
