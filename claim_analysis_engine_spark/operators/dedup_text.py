"""Text / embedding deduplication for training-data pipelines:
exact-hash dedup, single-probe MinHash blocking, banded MinHash-LSH,
SimHash, and hyperplane-LSH embedding near-dup — all over the driver's
`documents` / `embeddings` tables.

Determinism contract: every hash is md5 over an explicit seed string,
so the DuckDB oracle replicates the EXACT algorithm (signatures, bands,
buckets, candidate pairs) — the correctness gate checks algorithmic
parity, while tests/test_dedup_recall.py checks recall against exact
all-pairs ground truth. MinHash ranks shingles by the md5 hex string
itself (lexicographic min of lowercase hex == numeric min of the
128-bit value), so no hex→int conversion is ever needed.

Scale notes (100 TB):
* Signature computation is per-row JVM column math (shingle → md5 →
  array_min) — embarrassingly parallel, no shuffle, no Python. md5 is
  chosen so DuckDB can replicate bit-for-bit; a production deployment
  that doesn't need a cross-engine oracle swaps it for xxhash64
  (~10× cheaper, same structure, one-line change per hash site).
* Candidate generation NEVER does all-pairs: pairs only materialize
  inside an LSH band bucket (banded join) or a single-probe block.
  The self-join shuffles on (band, signature) — uniform md5 keys, so
  no skew; bucket sizes stay tiny unless documents truly collide.
* Exact-verify (Jaccard / cosine) runs only on the candidate set.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from claim_analysis_engine_spark import artifacts
from claim_analysis_engine_spark.registry import OpRegistry
from claim_analysis_engine_spark.tables import load, pinned_conf, spread_scan

REG = OpRegistry()

# MinHash configuration: 16 hashes in 4 bands of 4 rows; 5-char shingles.
# The 16 hash functions are 16 non-overlapping 8-hex (32-bit) windows of
# a 4×md5 digest per shingle — 4 md5 calls instead of 16 for the same
# independence, and byte-identical in SQL (substr of concatenated md5s).
N_HASH = 16
N_SEEDS = 4
WINDOW_HEX = 8
N_BANDS = 4
BAND_ROWS = 4
SHINGLE_K = 5
JACCARD_T = 0.8

# SimHash: 32 bits over distinct word tokens — one md5 per token, bit b
# is hex digit b of the digest (standard simhash practice: hash once,
# consume the digest's bits).  Candidates come from PIGEONHOLE blocking:
# the signature splits into 4 disjoint 8-bit blocks and a pair within
# Hamming ≤ 3 differs in at most 3 blocks, so at least one block is
# IDENTICAL — 4 block-keyed tables give guaranteed recall with bounded
# buckets (256 keys per table over uniform md5 bits).
SIMHASH_BITS = 32
SIMHASH_BLOCKS = 4
SIMHASH_BLOCK_BITS = 8  # SIMHASH_BITS / SIMHASH_BLOCKS
HAMMING_T = 3

# Embedding LSH: 8 bands of 4 random-hyperplane bits over all 64 dims
EMB_DIM = 64
EMB_BANDS = 8
EMB_BAND_BITS = 4
COSINE_T = 0.4


# ------------------------------------------------------------ helpers

def _plane_sign(bit: int, dim: int) -> int:
    """Deterministic ±1 hyperplane component from md5 — reproduced
    verbatim in the oracle SQL as literals."""
    return 1 if hashlib.md5(f"{bit}:{dim}".encode()).hexdigest()[0] in "89abcdef" else -1


def _salt64(j: int) -> int:
    """Wide 64-bit per-family salt (signed, from md5) for the fast
    minhash path. Must be the FIRST element of the xxhash64 input so
    it perturbs the accumulator before the shingle hash enters — a
    narrow or trailing salt leaves the per-family argmins correlated
    (see dedup_minhash_lsh_fast's docstring for the measurements)."""
    v = int.from_bytes(hashlib.md5(f"minhash:{j}".encode()).digest()[:8], "big")
    return v - (1 << 64) if v >= (1 << 63) else v


_PLANES = [
    [_plane_sign(b, d) for d in range(EMB_DIM)] for b in range(EMB_BANDS * EMB_BAND_BITS)
]

_SHINGLES_SQL = (
    "list_distinct(list_transform("
    f"generate_series(1, greatest(1, length(text) - {SHINGLE_K - 1})), "
    f"i -> substr(text, i, {SHINGLE_K})))"
)

_DIGEST_SQL = (
    "list_transform(sh, s -> "
    + " || ".join(f"md5('{i}:' || s)" for i in range(N_SEEDS))
    + ")"
)

_MINHASH_SQL = ", ".join(
    f"list_aggregate(list_transform(dig, d -> substr(d, {j * WINDOW_HEX + 1}, "
    f"{WINDOW_HEX})), 'min') AS mh{j}"
    for j in range(N_HASH)
)

_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, md5(concat_ws('|', "
    + ", ".join(f"mh{b * BAND_ROWS + r}" for r in range(BAND_ROWS))
    + ")) AS sig FROM sigs"
    for b in range(N_BANDS)
)

_SIGS_CTE = (
    f"sh0 AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),\n"
    f"    dig0 AS (SELECT doc_id, sh, {_DIGEST_SQL} AS dig FROM sh0),\n"
    f"    sigs AS (SELECT doc_id, sh, {_MINHASH_SQL} FROM dig0)"
)


def _shingles_col() -> F.Column:
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.lit(1), F.length("text") - (SHINGLE_K - 1))),
            lambda i: F.col("text").substr(i, F.lit(SHINGLE_K)),
        )
    )


def _digest_col() -> F.Column:
    """One 4×md5 digest (128 hex chars) per shingle, computed in a
    single array pass. NB: transform lambdas must stay UNARY — a
    `lambda s, j=j` would be read by PySpark as the binary
    (element, index) form and bind j to the array index column."""
    return F.transform(
        "sh",
        lambda s: F.concat(
            *[F.md5(F.concat(F.lit(f"{i}:"), s)) for i in range(N_SEEDS)]
        ),
    )


def _minhash_cols() -> list[F.Column]:
    def mh(j: int) -> F.Column:
        start = j * WINDOW_HEX + 1
        return F.array_min(
            F.transform("dig", lambda d: d.substr(start, WINDOW_HEX))
        )

    return [mh(j).alias(f"mh{j}") for j in range(N_HASH)]


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle sets only — the cheap frame for exact-verify joins."""
    return spread_scan(load(spark, sf_dir, "documents")).select(
        "doc_id", _shingles_col().alias("sh")
    )


def _jaccard(a: str, b: str) -> F.Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - inter)


# --------------------------------------------------------- dedup_exact

@REG.op(
    "dedup_exact",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id % 10 = 0
    )
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM corpus GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate grouping by content hash, keep-lowest-id — the
    hash-groupBy analog of the reference's full-row dedup
    (core/etl.py:134-136). The corpus plants one duplicate per 10 docs
    (id-offset copies) so the keep/count semantics are exercised; one
    map-side-combined hash aggregate, scale-safe at any corpus size."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    return (
        docs.unionByName(planted)
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# -------------------------------------------------- dedup_minhash_block

@REG.op(
    "dedup_minhash_block",
    oracle=f"""
    WITH sh0 AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
    dig0 AS (SELECT doc_id, sh,
             list_transform(sh, s -> md5('0:' || s)) AS dig FROM sh0),
    sigs AS (SELECT doc_id, sh,
             list_aggregate(list_transform(dig, d -> substr(d, 1, {WINDOW_HEX})),
                            'min') AS mh0,
             list_aggregate(list_transform(dig, d -> substr(d, {WINDOW_HEX + 1},
                            {WINDOW_HEX})), 'min') AS mh1
             FROM dig0),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sha, b.sh AS shb
      FROM sigs a JOIN sigs b
        ON a.mh0 = b.mh0 AND a.mh1 = b.mh1 AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(len(list_intersect(sha, shb)) * 1.0
                 / (len(sha) + len(shb) - len(list_intersect(sha, shb))), 4)
             AS jaccard
    FROM pairs
    WHERE len(list_intersect(sha, shb)) * 1.0
          / (len(sha) + len(shb) - len(list_intersect(sha, shb))) >= 0.5
    """,
)
def dedup_minhash_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash blocking on the (mh0, mh1) pair key: collision
    probability J² — on a high-overlap corpus a single-hash block key
    floods candidates (~400k pairs at 5k docs on this corpus; the pair
    key cuts that 13×), while true near-dups (J ≥ 0.9) still collide
    with P ≈ 0.8. Exact 5-gram Jaccard ≥ 0.5 verifies. The high-recall
    path is dedup_minhash_lsh (banded); this is the cheap pre-filter."""

    def mh(j: int) -> F.Column:
        start = j * WINDOW_HEX + 1
        return F.array_min(
            F.transform("dig", lambda d: d.substr(start, WINDOW_HEX))
        )

    # windows 0 and 1 both live in the seed-0 md5 → ONE md5 per shingle;
    # checkpointed so the self-join's two sides hash the corpus once
    sigs = (
        _shingles(spark, sf_dir)
        .select(
            "doc_id",
            "sh",
            F.transform(
                "sh", lambda s: F.md5(F.concat(F.lit("0:"), s))
            ).alias("dig"),
        )
        .select("doc_id", "sh", mh(0).alias("mh0"), mh(1).alias("mh1"))
        .localCheckpoint()
    )
    a = sigs.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"), "mh0", "mh1"
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"), "mh0", "mh1"
    )
    jac = _jaccard("sha", "shb")
    return (
        a.join(b, ["mh0", "mh1"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------- dedup_minhash_lsh

@REG.op(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH sh0 AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
    dig0 AS (SELECT doc_id, sh, {_DIGEST_SQL} AS dig FROM sh0),
    sigs AS (SELECT doc_id, sh, {_MINHASH_SQL} FROM dig0),
    bands AS ({_BANDS_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           round(len(list_intersect(x.sh, y.sh)) * 1.0
                 / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4)
             AS jaccard
    FROM cand c
    JOIN sh0 x ON x.doc_id = c.doc_a
    JOIN sh0 y ON y.doc_id = c.doc_b
    WHERE len(list_intersect(x.sh, y.sh)) * 1.0
          / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
          >= {JACCARD_T}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup detection: 16 minhashes → 4 bands of
    4 → docs sharing any band signature become candidates → exact
    Jaccard ≥ 0.8 verifies. Candidate pairs exist ONLY within band
    buckets (for J=0.8 the any-band hit rate is 1-(1-0.8^4)^4 ≈ 0.88;
    ≈ 1.0 at J≥0.95 — recall asserted in tests/test_dedup_recall.py).
    The band self-join shuffles on uniformly distributed md5 keys."""
    # one pass computes all 16 minhashes, then the 4 band signatures
    # explode from a single projection — the signature frame is never
    # recomputed per band and the verify join below only touches the
    # cheap shingle frame
    sh = _shingles(spark, sf_dir).localCheckpoint()
    sigs = sh.select("doc_id", "sh", _digest_col().alias("dig")).select(
        "doc_id", "sh", *_minhash_cols()
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|", *[f"mh{b * BAND_ROWS + r}" for r in range(BAND_ROWS)]
                    )
                ).alias("sig"),
            )
            for b in range(N_BANDS)
        ]
    )
    bands = (
        sigs.select("doc_id", F.explode(band_structs).alias("bs"))
        .select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
        .localCheckpoint()  # tiny (4 rows/doc); both self-join sides
        # reuse it, so the md5 signature pass over the corpus runs once
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    jac = _jaccard("sha", "shb")
    return (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb")), "doc_b")
        .where(jac >= JACCARD_T)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# --------------------------------------------- dedup_minhash_lsh_fast

@REG.op("dedup_minhash_lsh_fast")  # rows-only: xxhash64 is JVM-native and
# has no DuckDB twin, so there is no SQL oracle — correctness is covered
# by tests/test_dedup_recall.py (recall vs exact all-pairs ground truth,
# and every emitted pair's Jaccard checked against the exact value)
def dedup_minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION variant of dedup_minhash_lsh: identical banding
    structure (16 minhashes → 4 bands of 4 → candidates only within
    band buckets → exact Jaccard ≥ 0.8 verify) with every md5 swapped
    for F.xxhash64 — a 64-bit JVM-native hash that never leaves
    whole-stage codegen and skips hex-string materialization entirely
    (minhash compares longs, not 8-char substrings; band signatures are
    one xxhash64 over the 4 minhash longs instead of md5-of-concat).
    Beyond the hash swap, the string shingles never materialize at
    all: one pass folds substring → xxhash64 → distinct into a single
    long-array column, the 16 minhash families rehash those LONGS
    (xxhash64 over an 8-byte input, not a repeated string walk), and
    the verify stage computes Jaccard on the long arrays — set-exact
    up to 64-bit hash collisions (P ≈ |sh|²/2⁶⁴ per pair, ~10⁻¹⁴
    here; the recall test still compares against string-exact ground
    truth, so a collision would be caught, not hidden).

    FAMILY CONSTRUCTION MATTERS (measured, sf0.1, 5000 docs, ideal-
    family expectation 59.8k candidates from the exact J
    distribution): salting the per-j rehash as xxhash64(j, h) gives
    122k candidates and xxhash64(h XOR Kj) 112k — both ~2× inflated,
    because for single-block inputs the per-j argmin correlates
    across j, so low-J pairs that share one min-producing shingle
    collide in every band. Feeding a WIDE 64-bit salt as the FIRST
    hash-stream element — xxhash64(Kj, h), Kj from md5(j) — breaks
    the correlation (the salt perturbs the accumulator before the
    value enters): 14k candidates, recall 256/256 = 1.0 at J ≥ 0.8,
    15.5 s (md5) → ~6 s end-to-end. The md5 op stays registered
    because the cross-engine oracle needs a hash DuckDB can replicate
    bit-for-bit."""
    # hashed-shingle frame: ONE substring pass over the corpus,
    # checkpointed as compact long arrays that feed the signature pass
    # AND both sides of the exact-Jaccard verify join
    hashed = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.lit(1), F.length("text") - (SHINGLE_K - 1))
            ),
            lambda i: F.xxhash64(F.col("text").substr(i, F.lit(SHINGLE_K))),
        )
    )
    sh = (
        spread_scan(load(spark, sf_dir, "documents"))
        .select("doc_id", hashed.alias("sh"))
        .localCheckpoint()
    )

    def mh(j: int) -> F.Column:
        def h(s: F.Column) -> F.Column:
            return F.xxhash64(F.lit(_salt64(j)), s)

        return F.array_min(F.transform("sh", h)).alias(f"mh{j}")

    sigs = sh.select("doc_id", "sh", *[mh(j) for j in range(N_HASH)])
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[f"mh{b * BAND_ROWS + r}" for r in range(BAND_ROWS)]
                ).alias("sig"),
            )
            for b in range(N_BANDS)
        ]
    )
    bands = (
        sigs.select("doc_id", F.explode(band_structs).alias("bs"))
        .select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
        .localCheckpoint()
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    jac = _jaccard("sha", "shb")
    return (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb")), "doc_b")
        .where(jac >= JACCARD_T)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# -------------------------------------------------------- dedup_simhash

_TOKENS_SQL = "list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))"

# One md5 per token; bit b of the signature is the majority vote of hex
# digit b across token digests (md5 hex has 32 digits = 32 independent
# bits at the >= '8' threshold). The signature is a BIGINT bitmask —
# candidates carry 8 bytes instead of a 32-char string, block keys are
# shift/mask integer math, and Hamming distance is one bit_count(xor)
# intrinsic instead of 32 substring compares (this cut the sf0.1
# runtime from 215 s to seconds; both engines agree on the bit ops).
_SIMHASH_SQL = (
    "CAST("
    + " + ".join(
        f"CASE WHEN list_sum(list_transform(hashes, h -> CASE WHEN "
        f"substr(h, {b + 1}, 1) >= '8' THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << b} ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    + " AS BIGINT)"
)

_HAMMING_SQL = "bit_count(xor(siga, sigb))"

_BLOCKS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, sig, {k} AS k, "
    f"(sig >> {k * SIMHASH_BLOCK_BITS}) & {(1 << SIMHASH_BLOCK_BITS) - 1} AS blk "
    "FROM sigs"
    for k in range(SIMHASH_BLOCKS)
)


@REG.op(
    "dedup_simhash",
    oracle=f"""
    WITH toks0 AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    hashed AS (
      SELECT doc_id, list_transform(toks, t -> md5(t)) AS hashes FROM toks0
    ),
    sigs AS (SELECT doc_id, {_SIMHASH_SQL} AS sig FROM hashed),
    blocks AS ({_BLOCKS_SQL}),
    mins AS (
      SELECT b.doc_id, CAST(min(a.doc_id) AS BIGINT) AS keep_min
      FROM blocks a JOIN blocks b
        ON a.k = b.k AND a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= {HAMMING_T}
      GROUP BY 1
    )
    SELECT s.doc_id, s.sig,
           coalesce(m.keep_min, s.doc_id) AS keep_id,
           m.keep_min IS NOT NULL AS is_dup
    FROM sigs s LEFT JOIN mins m ON m.doc_id = s.doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with PIGEONHOLE multi-block LSH: a 32-bit
    signature (per-bit majority vote over one md5 digest per distinct
    word token) splits into 4 disjoint 8-bit blocks; a pair within
    Hamming ≤ 3 differs in at most 3 blocks, so at least one block
    matches exactly — candidates are the union of 4 block-keyed
    equi-joins (guaranteed recall, no prefix-flip hole), verified by
    full Hamming ≤ 3.

    The OUTPUT is the linear dedup contract, not the pair list: per
    doc, the lowest-id near-neighbor (keep_id) and an is_dup flag.
    On a corpus with planted near-dup clusters the pair list is
    quadratic in cluster size (3.5M pairs from 5000 docs at sf0.1 —
    measured); the keep decision is what a pipeline actually consumes,
    and min() aggregates PARTIALLY map-side, so the quadratic
    candidate stream collapses before it ever shuffles (no distinct
    over 9.4M rows: duplicate block hits can't change a min). 18 s →
    ~3 s at sf0.1 for strictly more useful output. Pigeonhole recall
    makes the keep decision EXACT vs all-pairs ground truth
    (tests/test_dedup_recall.py).

    Scale: each block table has ≤ 256 keys of near-uniform occupancy
    (md5 bits), so within-bucket pairing is bounded and the join
    shuffles on integer (k, blk) keys — no all-pairs stage anywhere.
    Signatures are BIGINT bitmasks: candidate rows carry 8-byte longs
    and the verify is one bit_count(xor) intrinsic per pair. A
    production deployment swaps md5 for xxhash64 and widens to 64-bit
    signatures with 16-bit blocks (65 536 buckets per table) without
    changing the plan shape; md5/32-bit is kept so DuckDB replicates
    bit-for-bit."""
    toks = F.array_distinct(F.array_remove(F.split("text", " "), ""))
    docs = spread_scan(load(spark, sf_dir, "documents")).select(
        "doc_id", toks.alias("toks")
    )
    hashed = docs.select("doc_id", F.transform("toks", F.md5).alias("hashes"))

    def bit(b: int) -> F.Column:
        def vote_step(acc: F.Column, h: F.Column) -> F.Column:
            return acc + F.when(F.substring(h, b + 1, 1) >= "8", 1).otherwise(-1)

        vote = F.aggregate("hashes", F.lit(0), vote_step)
        return F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0))

    sig = sum((bit(b) for b in range(SIMHASH_BITS)), F.lit(0)).cast("bigint")
    sigs = hashed.select("doc_id", sig.alias("sig")).localCheckpoint()
    mask = (1 << SIMHASH_BLOCK_BITS) - 1
    blocks = sigs.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("sig", k * SIMHASH_BLOCK_BITS).bitwiseAND(F.lit(mask))
                    for k in range(SIMHASH_BLOCKS)
                ]
            )
        ).alias("k", "blk"),
    )
    a = blocks.select(
        "k", "blk", F.col("doc_id").alias("doc_a"), F.col("sig").alias("siga")
    )
    b = blocks.select("k", "blk", F.col("doc_id").alias("doc_b"), F.col("sig").alias("sigb"))
    hamming = F.bit_count(F.col("siga").bitwiseXOR(F.col("sigb")))
    mins = (
        a.join(b, ["k", "blk"])
        .where((F.col("doc_a") < F.col("doc_b")) & (hamming <= HAMMING_T))
        .groupBy(F.col("doc_b").alias("doc_id"))
        .agg(F.min("doc_a").alias("keep_min"))
    )
    return sigs.join(mins, "doc_id", "left").select(
        "doc_id",
        "sig",
        F.coalesce("keep_min", "doc_id").alias("keep_id"),
        F.col("keep_min").isNotNull().alias("is_dup"),
    )


# -------------------------------------------------- dedup_embed_cosine

def _plane_sql(p: list[int]) -> str:
    return "[" + ", ".join(str(v) for v in p) + "]"


_EMB_BANDS_SQL = " UNION ALL ".join(
    f"SELECT vec_id, {b} AS band, concat("
    + ", ".join(
        "CASE WHEN list_sum(list_transform(generate_series(1, 64), "
        f"d -> CAST(embedding[d] AS DOUBLE) * ({_plane_sql(_PLANES[b * EMB_BAND_BITS + r])})[d])) > 0 "
        "THEN '1' ELSE '0' END"
        for r in range(EMB_BAND_BITS)
    )
    + ") AS sig FROM embeddings"
    for b in range(EMB_BANDS)
)

_COS_SQL = (
    "list_sum(list_transform(generate_series(1, 64), "
    "d -> CAST(x.embedding[d] AS DOUBLE) * CAST(y.embedding[d] AS DOUBLE))) "
    "/ (sqrt(list_sum(list_transform(generate_series(1, 64), "
    "d -> CAST(x.embedding[d] AS DOUBLE) * CAST(x.embedding[d] AS DOUBLE)))) "
    "* sqrt(list_sum(list_transform(generate_series(1, 64), "
    "d -> CAST(y.embedding[d] AS DOUBLE) * CAST(y.embedding[d] AS DOUBLE)))))"
)


def _dot(a: str, b: str) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def band_sigs(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """(vec_id, band, sig) hyperplane band signatures with the planes
    shipped as broadcast DATA — one row per band carrying its 4 plane
    arrays — instead of 2,048 inline literals. The literal form paid
    ~3 s of driver-side plan construction (thousands of Py4J column
    calls) plus outsized codegen on every invocation: the third
    instance of the sim_pq_adc lesson (model state as data, never as
    expression text). Sign bits are identical either way — same double
    values, same zip_with fold order — so the DuckDB oracles, which
    keep the planes as SQL literals, are unaffected."""
    rows = [
        tuple(
            [b]
            + [
                [float(v) for v in _PLANES[b * EMB_BAND_BITS + r]]
                for r in range(EMB_BAND_BITS)
            ]
        )
        for b in range(EMB_BANDS)
    ]
    schema = "band int, " + ", ".join(
        f"p{r} array<double>" for r in range(EMB_BAND_BITS)
    )
    planes = F.broadcast(spark.createDataFrame(rows, schema))
    sig = F.concat(
        *[
            F.when(_dot("embedding", f"p{r}") > 0, "1").otherwise("0")
            for r in range(EMB_BAND_BITS)
        ]
    )
    return emb.crossJoin(planes).select("vec_id", "band", sig.alias("sig"))


_NORM_SQL = (
    "sqrt(list_sum(list_transform(generate_series(1, 64), "
    "d -> CAST(embedding[d] AS DOUBLE) * CAST(embedding[d] AS DOUBLE))))"
)

_NDOT_SQL = (
    "list_sum(list_transform(generate_series(1, 64), d -> x.ne[d] * y.ne[d]))"
)


@REG.op(
    "dedup_embed_cosine",
    oracle=f"""
    WITH bands AS ({_EMB_BANDS_SQL}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
    ),
    normed AS (
      SELECT vec_id,
             list_transform(embedding,
                            v -> CAST(v AS DOUBLE) / {_NORM_SQL}) AS ne
      FROM embeddings
    )
    SELECT c.vec_a, c.vec_b, round({_NDOT_SQL}, 4) AS cosine
    FROM cand c
    JOIN normed x ON x.vec_id = c.vec_a
    JOIN normed y ON y.vec_id = c.vec_b
    WHERE {_NDOT_SQL} >= {COSINE_T}
    """,
)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via random-hyperplane LSH: 32 deterministic
    ±1 hyperplanes (md5-seeded, shipped as broadcast data on the Spark
    side, literals in the oracle SQL — identical sign bits) → 8 bands
    of 4 sign-bits → candidates share a band signature → exact cosine
    verifies. All-pairs never materializes; the verify join runs on
    the candidate set only, against vectors NORMALIZED ONCE per row —
    one dot fold per candidate pair instead of three (cos = dot of
    unit vectors), the dominant cost when data geometry makes the
    candidate set large. Both engines compute the identical normalized
    fold, so the value gate is unaffected."""
    emb = spread_scan(load(spark, sf_dir, "embeddings"))
    bands = band_sigs(spark, emb)
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    norm = F.sqrt(_dot("embedding", "embedding"))
    normed = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double") / norm).alias("ne"),
    )
    x = normed.select(F.col("vec_id").alias("vec_a"), F.col("ne").alias("ea"))
    y = normed.select(F.col("vec_id").alias("vec_b"), F.col("ne").alias("eb"))
    cos = _dot("ea", "eb")
    return (
        cand.join(x, "vec_a")
        .join(y, "vec_b")
        .where(cos >= COSINE_T)
        .select("vec_a", "vec_b", F.round(cos, 4).alias("cosine"))
    )


# ------------------------------------------------- dedup_jaccard_anchor

JACCARD_PAIR_T = 0.25
JACCARD_ANCHOR_MOD = 25


@REG.op(
    "dedup_jaccard_anchor",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.sh, b.sh)) AS n_inter,
             len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS n_union
      FROM sh a JOIN sh b
        ON a.doc_id % {JACCARD_ANCHOR_MOD} = 0 AND b.doc_id <> a.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS BIGINT) AS n_inter,
           round(n_inter * 1.0 / n_union, 4) AS jaccard
    FROM pairs WHERE n_inter * 1.0 / n_union >= {JACCARD_PAIR_T}
    """,
)
def dedup_jaccard_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram (character 5-shingle) Jaccard similarity against a
    deterministic anchor sample (doc_id % 25 — the sim_pairs pattern):
    each anchor's full shingle SET intersects every document's, so the
    reported Jaccard is exact, not a MinHash estimate. This is the
    ground-truth instrument the sketch family (dedup_minhash_*) is
    judged against, bounded to O(|anchors|·N) by broadcasting the
    anchor shingle sets — never the O(N²) corpus self-join (that role
    belongs to the banded LSH ops). Set algebra runs JVM-side
    (array_intersect on pre-distinct arrays); |union| comes from
    |A|+|B|−|∩| so each pair computes ONE intersection."""
    sh = _shingles(spark, sf_dir)
    a = sh.where(F.col("doc_id") % JACCARD_ANCHOR_MOD == 0).select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha")
    )
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    n_inter = F.size(F.array_intersect("sha", "shb"))
    n_union = F.size("sha") + F.size("shb") - n_inter
    jac = n_inter * F.lit(1.0) / n_union
    return (
        F.broadcast(a)
        .join(b, F.col("doc_b") != F.col("doc_a"))
        .where(jac >= JACCARD_PAIR_T)
        .select(
            "doc_a",
            "doc_b",
            n_inter.cast("long").alias("n_inter"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


# ---------------------------------------------------- dedup_cluster_cc

CC_MAX_ITERS = 20  # safety cap; min-label propagation needs ~diameter rounds


def propagate_min_labels(
    labels: DataFrame, edges: DataFrame, max_iters: int = CC_MAX_ITERS
) -> tuple[DataFrame, bool]:
    """Iterative min-label propagation core: each round every node takes
    the min of its own label and its neighbors' labels over ``edges``
    (directed rows (siga, sigb): siga's label flows to sigb). Labels
    only decrease, so the fixpoint test is one scalar sum per round.

    Returns (labels, converged). The caller must SURFACE the converged
    flag — the iteration cap is a safety net, and labels from a
    cap-terminated run are NOT components (a long path graph can need
    diameter rounds); returning them unmarked would silently merge or
    split clusters downstream.

    Convergence is detected by a no-change round, so a graph whose
    labels reach fixpoint exactly on round ``max_iters`` still needs
    one more pass to PROVE it; the loop therefore runs up to
    max_iters + 1 rounds — the cap bounds label-CHANGING rounds, and
    the confirming round rides free (otherwise a diameter-==-cap graph
    with correct labels would be reported non-converged).

    The loop runs with a handful of shuffle partitions: after the
    sig-collapse the frames are thousands of rows, and ~diameter
    rounds of 32-partition shuffles pay ~diameter × 32 task launches
    for nothing (the streaming-gate state-store lesson applied to
    iteration). Both inputs arrive localCheckpointed and every round's
    result is materialized eagerly, so the shrunken conf never leaks
    into callers' plans; restored on exit."""
    spark = labels.sparkSession
    with pinned_conf(spark, "spark.sql.shuffle.partitions", "4"):
        # bounded: 1-row convergence aggregate per fixpoint round
        prev_sum = labels.agg(F.sum("label")).collect()[0][0]
        for _ in range(max_iters + 1):
            nbr = (
                edges.join(labels, edges.siga == labels.sig)
                .groupBy(F.col("sigb").alias("sig"))
                .agg(F.min("label").alias("nbr_min"))
            )
            labels = (
                labels.join(nbr, "sig", "left")
                .select(
                    "sig",
                    F.least("label", F.coalesce("nbr_min", "label")).alias("label"),
                )
                .localCheckpoint()
            )
            # bounded: 1-row convergence aggregate
            cur_sum = labels.agg(F.sum("label")).collect()[0][0]
            if cur_sum == prev_sum:
                return labels, True
            prev_sum = cur_sum
        return labels, False


@REG.op(
    "dedup_cluster_cc",
    oracle=f"""
    WITH RECURSIVE
    toks0 AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    hashed AS (
      SELECT doc_id, list_transform(toks, t -> md5(t)) AS hashes FROM toks0
    ),
    sigs AS (SELECT doc_id, {_SIMHASH_SQL} AS sig FROM hashed),
    edges AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM sigs a JOIN sigs b ON a.doc_id <> b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= {HAMMING_T}
    ),
    walk(node, root) AS (
      SELECT doc_id, doc_id FROM sigs
      UNION
      SELECT e.dst, w.root FROM walk w JOIN edges e ON e.src = w.node
    ),
    roots AS (SELECT node, min(root) AS root_id FROM walk GROUP BY 1),
    sizes AS (SELECT root_id, count(*) AS n FROM roots GROUP BY 1)
    SELECT r.node AS doc_id, CAST(r.root_id AS BIGINT) AS root_id,
           CAST(s.n AS BIGINT) AS cluster_size, TRUE AS converged
    FROM roots r JOIN sizes s ON s.root_id = r.root_id
    """,
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the simhash near-dup graph — the
    TRANSITIVE dedup contract (a keeps-b, b-keeps-c must collapse to
    one cluster root, which the single-pass min-neighbor rule of
    dedup_simhash deliberately does not do). Implemented as iterative
    min-label propagation on DataFrames: each round every node takes
    the min of its own label and its neighbors' labels; labels only
    decrease, so the fixpoint test is one scalar sum per round (strict
    monotone descent — equal sum ⇔ converged), and rounds needed =
    graph diameter (near-dup clusters are near-cliques: 2-3 rounds).
    The DuckDB oracle walks the same graph with a recursive CTE, so
    the iterative program is value-checked end-to-end.

    Scale: docs COLLAPSE to distinct signatures first (equal sigs are
    Hamming-0 connected by definition), so the graph the iteration
    touches has |distinct sigs| nodes (2255 vs 5000 docs at sf0.1 —
    and far fewer than the 3.5M doc-level pairs the planted clusters
    would generate). Each round is then one shuffle-join on the sig
    key plus one aggregate — the standard large-graph CC shape
    (GraphX/GraphFrames use the same label-propagation core); lineage
    is truncated per round with localCheckpoint so the plan doesn't
    grow with iterations (a cluster deployment would use checkpoint()
    against the fault-tolerant store instead).

    Deliberately NOT spread_scan'd: unlike the one-pass dedup ops, CC's
    wall time is dominated by ~diameter ROUNDS of tiny-frame joins
    (2 255 sig-nodes after collapse), where extra partitions mean extra
    per-round task overhead — measured +1 s at sf0.1 when the scan was
    repartitioned to 32. The single md5 signature pass is cheap enough
    single-split at these SFs; a real corpus arrives multi-split.

    The finished labels frame is the "cc_labels" artifact: three
    consumers need the clusters (this op, dedup_canonical_pick,
    corpus_split_leakage_safe), so the iterative propagation runs once
    per version of the documents. The stored frame ends in
    localCheckpointed lineage, so repeat calls read materialized
    blocks."""
    return artifacts.get_or_build(
        "cc_labels", spark, sf_dir, lambda: _cc_labels(spark, sf_dir)
    )


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs, nodes, edges = _cc_sig_graph(spark, sf_dir)

    labels, converged = propagate_min_labels(nodes, edges)

    per_doc = sigs.join(labels, "sig").select(
        "doc_id", F.col("label").alias("root_id")
    )
    sizes = per_doc.groupBy("root_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    # contract column, oracle-checked: the recursive-CTE oracle emits
    # TRUE, so a cap-terminated (non-converged) run hash-mismatches at
    # the gate instead of passing partial labels off as components
    return per_doc.join(sizes, "root_id").select(
        "doc_id", "root_id", "cluster_size", F.lit(converged).alias("converged")
    )


def _cc_sig_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared near-dup graph substrate for both CC implementations:
    (sigs, nodes, edges) — per-doc simhash signatures, one labeled node
    per DISTINCT signature, and symmetric pigeonhole-block edges."""
    toks = F.array_distinct(F.array_remove(F.split("text", " "), ""))
    docs = load(spark, sf_dir, "documents").select("doc_id", toks.alias("toks"))
    hashed = docs.select("doc_id", F.transform("toks", F.md5).alias("hashes"))

    def bit(b: int) -> F.Column:
        def vote_step(acc: F.Column, h: F.Column) -> F.Column:
            return acc + F.when(F.substring(h, b + 1, 1) >= "8", 1).otherwise(-1)

        vote = F.aggregate("hashes", F.lit(0), vote_step)
        return F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0))

    sig = sum((bit(b) for b in range(SIMHASH_BITS)), F.lit(0)).cast("bigint")
    # checkpointed, not cached: the cc_labels artifact reads sigs, and a
    # CacheManager entry would be matched by plan against a rewritten
    # documents table and serve the old signatures
    sigs = hashed.select("doc_id", sig.alias("sig")).localCheckpoint()
    # node table: one row per DISTINCT signature, labeled by its min doc
    nodes = (
        sigs.groupBy("sig").agg(F.min("doc_id").alias("label")).localCheckpoint()
    )

    # pigeonhole block join (identical structure to dedup_simhash) over
    # sig-nodes — never all-pairs; both directions for undirected
    # propagation
    mask = (1 << SIMHASH_BLOCK_BITS) - 1
    blocks = nodes.select(
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("sig", k * SIMHASH_BLOCK_BITS).bitwiseAND(F.lit(mask))
                    for k in range(SIMHASH_BLOCKS)
                ]
            )
        ).alias("k", "blk"),
    )
    a = blocks.select("k", "blk", F.col("sig").alias("siga"))
    b = blocks.select("k", "blk", F.col("sig").alias("sigb"))
    hamming = F.bit_count(F.col("siga").bitwiseXOR(F.col("sigb")))
    half = (
        a.join(b, ["k", "blk"])
        .where((F.col("siga") < F.col("sigb")) & (hamming <= HAMMING_T))
        .select("siga", "sigb")
        .distinct()
    )
    edges = half.unionByName(
        half.select(F.col("sigb").alias("siga"), F.col("siga").alias("sigb"))
    ).localCheckpoint()
    return sigs, nodes, edges


# --------------------------------------------------- dedup_simhash_fast

SIMHASH64_BITS = 64
SIMHASH64_BLOCKS = 4
SIMHASH64_BLOCK_BITS = 16  # 65 536 buckets per block table


def simhash64_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit xxhash64 SimHash signatures per document — the production
    geometry the dedup_simhash docstring promises (the md5/32-bit op is
    kept only so DuckDB replicates bit-for-bit). One JVM hash per
    distinct token; the per-bit majority vote is computed by 16
    bit-sliced lane folds (four 16-bit set-bit counters per long — see
    the inline rationale), then the signature long is assembled from
    the majority tests (bit 63 enters as the two's-complement sign
    term). No Python, no UDFs; exposed
    separately so the recall test can build exact all-pairs ground
    truth over the same signatures."""
    toks = F.array_distinct(F.array_remove(F.split("text", " "), ""))
    hashed = spread_scan(load(spark, sf_dir, "documents")).select(
        "doc_id", F.transform(toks, lambda t: F.xxhash64(t)).alias("hashes")
    )

    # Bit-sliced majority vote (r15): the r14 shape ran ONE scalar fold
    # PER BIT — 64 array traversals per doc, each doing
    # shift+mask+compare+branch+add per token (a per-token
    # zip_with-into-a-64-array formulation measured 2.5× slower still:
    # two 64-element allocations per token). SWAR packs FOUR 16-bit
    # set-bit counters into one long lane word (bits l, l+16, l+32,
    # l+48 share lane group l), so 16 allocation-free folds — each a
    # shift+mask+add per token — count all 64 bits: 4× fewer array
    # traversals and no branch in the inner loop. Value-identical to
    # the ±1 vote by integer algebra: vote(b) = 2·cnt(b) − n, so
    # vote(b) > 0 ⟺ 2·cnt(b) > n (tests/test_dedup_recall.py pins the
    # fold against an independent per-bit SQL recount). Lane width
    # bounds the doc: 16-bit counters are exact up to 65 535 distinct
    # tokens per document — far above any real document's distinct
    # vocabulary (web pages run ~10³; the lanes would need a single
    # 65k-distinct-token doc to saturate).
    lane_w = 16  # counter width: 64-bit word / lane_w = 4 counters
    n_groups = SIMHASH64_BITS // (64 // lane_w)  # 16 lane groups
    lane_mask = 0x0001_0001_0001_0001  # one 16-bit counter per lane
    n = F.size("hashes")

    def lane_counts(group: int) -> F.Column:
        # Σ_token (h >>> group) & lane_mask — accumulates cnt(group),
        # cnt(group+16), cnt(group+32), cnt(group+48) in parallel lanes
        return F.aggregate(
            "hashes",
            F.lit(0).cast("bigint"),
            lambda acc, h: acc
            + F.shiftrightunsigned(h, group).bitwiseAND(F.lit(lane_mask)),
        )

    # materialize the 16 lane words (and n) in their own projection so
    # the 4 per-bit extracts below reference attributes, not copies of
    # the fold (CollapseProject keeps non-cheap producers separate)
    lanes = hashed.select(
        "doc_id",
        n.alias("n_toks"),
        *[lane_counts(g).alias(f"lane{g}") for g in range(n_groups)],
    )

    def cnt(b: int) -> F.Column:
        group, k = b % n_groups, b // n_groups
        return F.shiftrightunsigned(f"lane{group}", k * lane_w).bitwiseAND(
            F.lit(0xFFFF)
        )

    terms = [
        F.when(
            cnt(b) * 2 > F.col("n_toks"),
            F.lit(-(1 << 63) if b == 63 else (1 << b)).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        for b in range(SIMHASH64_BITS)
    ]
    sig = sum(terms[1:], terms[0])
    return lanes.select("doc_id", sig.alias("sig"))


@REG.op("dedup_simhash_fast")  # xxhash64 is JVM-only: no DuckDB twin,
# rows-only at the gate; exactness is pinned by
# tests/test_dedup_recall.py against all-pairs ground truth over the
# same signatures (pigeonhole recall is a guarantee, so the keep
# decisions must MATCH, not approximate)
def dedup_simhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_simhash's production twin: 64-bit xxhash64 signatures,
    4×16-bit pigeonhole blocks. Any pair within Hamming ≤ 3 differs in
    at most 3 of the 4 disjoint blocks, so at least one block matches
    exactly — same guaranteed-recall geometry as the 32-bit op, but
    with 65 536 buckets per block table (256× finer than the 8-bit
    blocks) the within-bucket candidate streams shrink by orders of
    magnitude at corpus scale, and the 64-bit signature halves the
    random-collision rate of the Hamming verify.

    Output is the linear dedup contract (keep_id per doc, min combines
    map-side), identical to dedup_simhash — see that docstring for why
    pair lists are the wrong output shape at 100 TB."""
    sigs = simhash64_sigs(spark, sf_dir).localCheckpoint()
    mask = (1 << SIMHASH64_BLOCK_BITS) - 1
    blocks = sigs.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("sig", k * SIMHASH64_BLOCK_BITS).bitwiseAND(
                        F.lit(mask)
                    )
                    for k in range(SIMHASH64_BLOCKS)
                ]
            )
        ).alias("k", "blk"),
    )
    a = blocks.select(
        "k", "blk", F.col("doc_id").alias("doc_a"), F.col("sig").alias("siga")
    )
    b = blocks.select(
        "k", "blk", F.col("doc_id").alias("doc_b"), F.col("sig").alias("sigb")
    )
    hamming = F.bit_count(F.col("siga").bitwiseXOR(F.col("sigb")))
    mins = (
        a.join(b, ["k", "blk"])
        .where((F.col("doc_a") < F.col("doc_b")) & (hamming <= HAMMING_T))
        .groupBy(F.col("doc_b").alias("doc_id"))
        .agg(F.min("doc_a").alias("keep_min"))
    )
    return sigs.join(mins, "doc_id", "left").select(
        "doc_id",
        "sig",
        F.coalesce("keep_min", "doc_id").alias("keep_id"),
        F.col("keep_min").isNotNull().alias("is_dup"),
    )


# ----------------------------------------------- dedup_canonical_pick

# compose the CC oracle (a WITH RECURSIVE query) as a derived table —
# same technique as sim_recall_report's composed oracle
_CC_ORACLE = REG.ops["dedup_cluster_cc"].oracle


@REG.op(
    "dedup_canonical_pick",
    oracle=f"""
    WITH cc AS (SELECT * FROM ({_CC_ORACLE})),
    sized AS (
      SELECT c.doc_id, c.root_id, c.cluster_size, d.n_chars
      FROM cc c JOIN documents d ON d.doc_id = c.doc_id
    ),
    canon AS (
      SELECT root_id, doc_id AS canonical_id FROM (
        SELECT root_id, doc_id,
               row_number() OVER (PARTITION BY root_id
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM sized) WHERE rn = 1
    )
    SELECT s.doc_id, s.root_id, CAST(c.canonical_id AS BIGINT) AS canonical_id,
           s.doc_id = c.canonical_id AS keep, s.cluster_size
    FROM sized s JOIN canon c ON c.root_id = s.root_id
    """,
)
def dedup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-one-per-cluster step that completes the near-dup
    pipeline: given the transitive clusters from dedup_cluster_cc,
    elect the LONGEST document (n_chars, ties to the smallest doc_id)
    as each cluster's canonical survivor and mark every other member
    for removal — the standard curation policy (keep the richest copy,
    drop the rest) after CC has merged a-keeps-b/b-keeps-c chains.
    Output: one row per doc with its cluster root, the elected
    canonical, a keep flag, and the cluster size.

    Scale: the per-cluster election is one window over the CC labels
    (|docs| rows, partitioned by root — cluster sizes are bounded by
    near-dup geometry, no skew) plus a small join of the elected
    canonicals back; the CC pass itself is the dominant cost and this
    adds two exchanges over its output."""
    from pyspark.sql import Window as W

    cc = dedup_cluster_cc(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sized = cc.join(d, "doc_id")
    w = W.partitionBy("root_id").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    canon = (
        sized.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("root_id", F.col("doc_id").alias("canonical_id"))
    )
    return sized.join(canon, "root_id").select(
        "doc_id",
        "root_id",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("keep"),
        "cluster_size",
    )


# ----------------------------------------------- dedup_cluster_cc_star

CC_STAR_MAX_ROUNDS = 16  # each round is large-star + small-star


def _sym(e: DataFrame) -> DataFrame:
    return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _canon(e: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (min, max) orientation, no
    self-loops, distinct."""
    return (
        e.where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )


def star_components(
    edges: DataFrame, max_rounds: int = CC_STAR_MAX_ROUNDS
) -> tuple[DataFrame, bool, int]:
    """Alternating large-star / small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014): each round rewires every node toward its
    neighborhood minimum — large-star hangs strictly larger neighbors
    under min(Γ(u) ∪ {u}), small-star re-hangs smaller-or-equal
    neighbors — and the edge set provably converges to per-component
    STARS in O(log n) rounds on ANY graph. This is the scale
    complement to propagate_min_labels, whose round count is the graph
    DIAMETER: on near-clique near-dup graphs the two tie, but a
    100 TB corpus with chained duplicates (doc A≈B≈C≈… across crawls)
    produces long paths where diameter rounds are unaffordable and
    log-rounds is the published fix (same core as GraphX/GraphFrames
    CC). tests/test_dedup_recall.py pins exactly that separation on a
    synthetic path graph — min-propagation blows its cap while the
    star loop converges — and label agreement with the iterative op.

    `edges`: undirected (u, v) pairs over orderable bigint node ids.
    Returns (assign, converged, rounds): assign maps each node that
    appears in `edges` to its component minimum (`root`). Runs on few
    shuffle partitions for the same reason propagate_min_labels does;
    every round localCheckpoints both frames (lineage must not grow
    with rounds)."""
    spark = edges.sparkSession
    with pinned_conf(spark, "spark.sql.shuffle.partitions", "4"):
        e = _canon(edges).localCheckpoint()

        def checksum(frame: DataFrame):
            # decimal accumulator: a long sum of 2^63-scale hashes
            # overflows under ANSI mode
            row = frame.agg(
                F.coalesce(
                    F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                    F.lit(0).cast("decimal(38,0)"),
                ).alias("h"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]  # bounded: 1-row (hash, count) witness
            return (row.h, row.n)

        prev = checksum(e)
        converged, rounds = False, 0
        for rounds in range(1, max_rounds + 1):
            # large-star: for every node u, hang each STRICTLY LARGER
            # neighbor v under m = min(Γ(u) ∪ {u})
            g = _sym(e)
            m = g.groupBy("u").agg(
                F.least(F.min("v"), F.first("u")).alias("m")
            )
            large = (
                g.join(m, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
            e = _canon(large).localCheckpoint()
            # small-star: orient edges large→small, re-hang every
            # smaller neighbor (and u itself) under the minimum
            h = e.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            mn = h.groupBy("u").agg(F.min("v").alias("m"))
            small = (
                h.join(mn, "u")
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .unionByName(
                    mn.select(F.col("u"), F.col("m").alias("v"))
                )
            )
            e = _canon(small).localCheckpoint()
            cur = checksum(e)
            if cur == prev:
                converged = True
                break
            prev = cur
        # final state is a star per component: every node's min over
        # its (symmetric) neighborhood and itself IS the component root
        g = _sym(e)
        assign = g.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("root")
        )
        return assign, converged, rounds


@REG.op(
    "dedup_cluster_cc_star",
    # identical contract to dedup_cluster_cc — the SAME recursive-CTE
    # oracle value-checks both the diameter-round and the log-round
    # implementation
    oracle=REG.ops["dedup_cluster_cc"].oracle,
)
def dedup_cluster_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_cluster_cc's transitive-clustering contract computed by
    the O(log n)-round alternating-star algorithm instead of
    diameter-round label propagation (see star_components). Shares the
    signature/pigeonhole edge construction with dedup_cluster_cc and
    the SAME DuckDB oracle, so the driver's hash gate certifies that
    two independently-shaped iterative programs agree with the
    recursive-CTE ground truth."""
    sigs, nodes, edges = _cc_sig_graph(spark, sf_dir)
    star_edges = edges.select(
        F.col("siga").alias("u"), F.col("sigb").alias("v")
    )
    assign, converged, _rounds = star_components(star_edges)
    # sig-level components → min-doc labels per component; sigs with no
    # edges are their own singleton components
    comp = nodes.join(
        assign.select(F.col("u").alias("sig"), "root"), "sig", "left"
    ).select("sig", "label", F.coalesce("root", "sig").alias("root_sig"))
    root_label = comp.groupBy("root_sig").agg(F.min("label").alias("root_id"))
    sig_root = comp.join(root_label, "root_sig").select("sig", "root_id")
    per_doc = sigs.join(sig_root, "sig").select("doc_id", "root_id")
    sizes = per_doc.groupBy("root_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return per_doc.join(sizes, "root_id").select(
        "doc_id", "root_id", "cluster_size", F.lit(converged).alias("converged")
    )


# ---------------------------------------------------- join_fuzzy_entity

# Entity-resolution fuzzy join configuration: 3-char grams; a gram is a
# usable BLOCK KEY only if its document frequency is <= |corpus| / 30 —
# the DF prune that excludes the shared "Customer#0..." prefix grams
# (DF = |corpus|) which would otherwise make every record collide into
# one hot block.
FUZZY_GRAM_K = 3
FUZZY_DF_DIVISOR = 30
FUZZY_DIRTY_MOD = 7  # every 7th customer gets a planted dirty variant
FUZZY_NO_MATCH = -1  # sentinel: unresolvable dirty record (non-null key)

_FUZZY_GRAMS_SQL = (
    "list_distinct(list_transform("
    f"generate_series(1, length({{col}}) - {FUZZY_GRAM_K - 1}), "
    f"i -> substr({{col}}, i, {FUZZY_GRAM_K})))"
)


@REG.op(
    "join_fuzzy_entity",
    oracle=f"""
    WITH dirty AS (
      SELECT c_custkey AS dirty_key,
             substr(c_name, 1, c_custkey % 8)
               || substr(c_name, 2 + (c_custkey % 8)) AS dirty_name
      FROM customer WHERE c_custkey % {FUZZY_DIRTY_MOD} = 0
    ),
    csets AS (
      SELECT c_custkey, {_FUZZY_GRAMS_SQL.format(col="c_name")} AS gs
      FROM customer
    ),
    cg AS (SELECT c_custkey, unnest(gs) AS gram FROM csets),
    df AS (SELECT gram, count(*) AS df FROM cg GROUP BY 1),
    thresh AS (SELECT count(*) / {FUZZY_DF_DIVISOR} AS t FROM customer),
    dsets AS (
      SELECT dirty_key, dirty_name,
             {_FUZZY_GRAMS_SQL.format(col="dirty_name")} AS gs
      FROM dirty
    ),
    dg AS (SELECT dirty_key, unnest(gs) AS gram FROM dsets),
    cand AS (
      SELECT DISTINCT d.dirty_key, c.c_custkey
      FROM dg d JOIN df USING (gram) JOIN cg c USING (gram), thresh
      WHERE df.df <= thresh.t
    ),
    scored AS (
      SELECT k.dirty_key, k.c_custkey,
             round(CAST(len(list_intersect(ds.gs, cs.gs)) AS DOUBLE)
                   / (len(ds.gs) + len(cs.gs)
                      - len(list_intersect(ds.gs, cs.gs))), 6) AS jac
      FROM cand k
      JOIN dsets ds ON ds.dirty_key = k.dirty_key
      JOIN csets cs ON cs.c_custkey = k.c_custkey
    ),
    best AS (
      SELECT dirty_key, c_custkey AS matched_key, jac,
             row_number() OVER (PARTITION BY dirty_key
                                ORDER BY jac DESC, c_custkey) AS rn
      FROM scored
    )
    SELECT d.dirty_key, d.dirty_name,
           CAST(coalesce(b.matched_key, {FUZZY_NO_MATCH}) AS BIGINT)
             AS matched_key,
           coalesce(b.jac, 0.0) AS jaccard
    FROM dirty d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
      ON b.dirty_key = d.dirty_key
    """,
)
def join_fuzzy_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: dirty name variants (planted
    letter-deletion typos in the "Customer" prefix — the id tail stays
    intact, as OCR/keying errors hit words, not serials) resolve to
    their canonical customer record by trigram similarity. This is the
    cross-TABLE counterpart of the near-dup dedup family: same gram
    machinery, but matching against a reference entity table instead
    of within a corpus.

    The scalable shape is DF-pruned posting-list blocking, the
    standard ER blocking discipline: grams whose document frequency
    exceeds |corpus|/30 are disqualified as block keys — on this data
    that excludes every "Customer#0…" prefix gram (DF = |corpus|),
    exactly the hot keys that would turn the blocking join into one
    giant bucket. Candidates only materialize where dirty and
    canonical records share a RARE gram (~13 per dirty record here);
    the Jaccard verify then runs on the candidate set alone, and one
    window keeps the best match (ties to the smallest key). Unresolved
    records (an all-zeros id tail leaves no rare gram) surface with a
    -1 sentinel rather than dropping. No distance computation ever
    touches the full dirty×canonical cross product, and the DF table
    is a gram-keyed aggregate both engines derive from the data — no
    magic thresholds shipped out-of-band. tests/test_dedup_recall.py
    pins the resolution quality (212/215 resolved, 211 correct at
    sf0.01) and that the one mismatch is a true near-tie, not a
    blocking miss."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")

    def grams(col: str) -> F.Column:
        return F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.length(col) - (FUZZY_GRAM_K - 1)
                ),
                lambda i: F.col(col).substr(i, F.lit(FUZZY_GRAM_K)),
            )
        )

    dirty = cust.where(F.col("c_custkey") % FUZZY_DIRTY_MOD == 0).select(
        F.col("c_custkey").alias("dirty_key"),
        F.expr(
            "concat(substr(c_name, 1, c_custkey % 8), "
            "substr(c_name, 2 + (c_custkey % 8)))"
        ).alias("dirty_name"),
    )
    csets = cust.select("c_custkey", grams("c_name").alias("gs"))
    cg = csets.select("c_custkey", F.explode("gs").alias("gram"))
    df = cg.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    thresh = cust.agg(
        (F.count(F.lit(1)) / FUZZY_DF_DIVISOR).alias("t")
    )
    rare = df.crossJoin(F.broadcast(thresh)).where(
        F.col("df") <= F.col("t")
    ).select("gram")

    dsets = dirty.select("dirty_key", "dirty_name", grams("dirty_name").alias("gs"))
    dg = dsets.select("dirty_key", F.explode("gs").alias("gram"))
    cand = (
        dg.join(F.broadcast(rare), "gram")
        .join(cg, "gram")
        .select("dirty_key", "c_custkey")
        .distinct()
    )
    inter = F.size(F.array_intersect("d_gs", "c_gs")).cast("double")
    scored = (
        cand.join(dsets.select("dirty_key", F.col("gs").alias("d_gs")), "dirty_key")
        .join(csets.select("c_custkey", F.col("gs").alias("c_gs")), "c_custkey")
        .select(
            "dirty_key",
            "c_custkey",
            F.round(
                inter / (F.size("d_gs") + F.size("c_gs") - inter), 6
            ).alias("jac"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("dirty_key").orderBy(F.col("jac").desc(), "c_custkey")
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("dirty_key", F.col("c_custkey").alias("matched_key"), "jac")
    )
    return dirty.join(best, "dirty_key", "left").select(
        "dirty_key",
        "dirty_name",
        F.coalesce("matched_key", F.lit(FUZZY_NO_MATCH)).cast("bigint").alias("matched_key"),
        F.coalesce("jac", F.lit(0.0)).alias("jaccard"),
    )


# ---------------------------------------------- dedup_cross_snapshot

SNAPSHOT_MOD = 5  # doc_id % 5 == 0 plays the "newly crawled" snapshot
CROSS_JACCARD_T = 0.5
CROSS_NO_DUP = -1  # sentinel: new doc with no near-dup in the corpus


@REG.op(
    "dedup_cross_snapshot",
    oracle=f"""
    WITH sh0 AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
    dig0 AS (SELECT doc_id, sh,
             list_transform(sh, s -> md5('0:' || s)) AS dig FROM sh0),
    sigs AS (SELECT doc_id, sh,
             list_aggregate(list_transform(dig, d -> substr(d, 1, {WINDOW_HEX})),
                            'min') AS mh0,
             list_aggregate(list_transform(dig, d -> substr(d, {WINDOW_HEX + 1},
                            {WINDOW_HEX})), 'min') AS mh1
             FROM dig0),
    new_side AS (SELECT * FROM sigs WHERE doc_id % {SNAPSHOT_MOD} = 0),
    old_side AS (SELECT * FROM sigs WHERE doc_id % {SNAPSHOT_MOD} <> 0),
    cand AS (
      SELECT n.doc_id AS new_id, o.doc_id AS old_id,
             round(len(list_intersect(n.sh, o.sh)) * 1.0
                   / (len(n.sh) + len(o.sh)
                      - len(list_intersect(n.sh, o.sh))), 4) AS jac
      FROM new_side n JOIN old_side o
        ON n.mh0 = o.mh0 AND n.mh1 = o.mh1
    ),
    best AS (
      SELECT new_id, old_id, jac,
             row_number() OVER (PARTITION BY new_id
                                ORDER BY jac DESC, old_id) AS rn
      FROM cand WHERE jac >= {CROSS_JACCARD_T}
    )
    SELECT n.doc_id,
           CAST(coalesce(b.old_id, {CROSS_NO_DUP}) AS BIGINT) AS dup_of,
           coalesce(b.jac, 0.0) AS jaccard,
           b.old_id IS NOT NULL AS is_dup
    FROM new_side n
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.new_id = n.doc_id
    """,
)
def dedup_cross_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl-ingestion dedup: every NEWLY arrived document
    (the doc_id % {SNAPSHOT_MOD} == 0 slice stands in for a fresh
    snapshot) is checked against the EXISTING corpus only — the
    asymmetric join a production pipeline runs per crawl, where the
    in-corpus dedup already happened and re-pairing old-vs-old every
    ingestion would redo quadratically growing work. New docs that
    share the (mh0, mh1) MinHash block key with any corpus doc verify
    by exact shingle Jaccard and keep their best match (ties to the
    smallest corpus id); clean docs surface with a -1 sentinel rather
    than dropping, so downstream admission control sees every arrival.

    Scale shape: at each ingestion the join cost is |snapshot| ×
    collision rate, NOT |corpus|² — the corpus side contributes only
    its (precomputable, storable) signature table, which is exactly
    what an incremental pipeline persists between crawls. Signatures
    hash each side once (one md5 pass per shingle), and no new-new or
    old-old pair ever materializes."""

    def mh(j: int) -> F.Column:
        start = j * WINDOW_HEX + 1
        return F.array_min(
            F.transform("dig", lambda d: d.substr(start, WINDOW_HEX))
        )

    sigs = (
        _shingles(spark, sf_dir)
        .select(
            "doc_id",
            "sh",
            F.transform(
                "sh", lambda s: F.md5(F.concat(F.lit("0:"), s))
            ).alias("dig"),
        )
        .select("doc_id", "sh", mh(0).alias("mh0"), mh(1).alias("mh1"))
    )
    new_side = sigs.where(F.col("doc_id") % SNAPSHOT_MOD == 0)
    old_side = sigs.where(F.col("doc_id") % SNAPSHOT_MOD != 0).select(
        F.col("doc_id").alias("old_id"),
        F.col("sh").alias("sh_o"),
        "mh0",
        "mh1",
    )
    inter = F.size(F.array_intersect("sh", "sh_o")).cast("double")
    cand = (
        new_side.join(old_side, ["mh0", "mh1"])
        .select(
            F.col("doc_id").alias("new_id"),
            "old_id",
            F.round(
                inter / (F.size("sh") + F.size("sh_o") - inter), 4
            ).alias("jac"),
        )
        .where(F.col("jac") >= CROSS_JACCARD_T)
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("new_id").orderBy(F.col("jac").desc(), "old_id")
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("new_id", "old_id", "jac")
    )
    return new_side.select("doc_id").join(
        best, new_side.doc_id == best.new_id, "left"
    ).select(
        "doc_id",
        F.coalesce("old_id", F.lit(CROSS_NO_DUP)).cast("bigint").alias("dup_of"),
        F.coalesce("jac", F.lit(0.0)).alias("jaccard"),
        F.col("old_id").isNotNull().alias("is_dup"),
    )


# ---------------------------------------------- txt_containment_prefix

CONTAIN_T = 0.9   # "A is (near-)contained in B" threshold
CONTAIN_T_PCT = 90  # same threshold as an integer percentage: the probe
# count must be computed with INTEGER arithmetic in both engines —
# Python's float 1-0.9 is 0.0999…98 while DuckDB's decimal 1-0.9 is
# exactly 0.1, and floor() of the two diverges whenever |A| is a
# multiple of 10
CONTAIN_REPORT_T = 0.5  # emit best-container rows at or above this


def _containment_candidates(sh: DataFrame) -> DataFrame:
    """PPJoin prefix-filter candidate generation over a (doc_id, sh)
    shingle frame: each doc probes the inverted index with only its
    ⌊(1−t)·|A|⌋+1 globally RAREST shingles (DF-ascending,
    shingle-string tiebreak); candidates are pairs sharing a rare
    probe. Shared by txt_containment_prefix (the registered oracle op
    over the corpus) and txt_containment_sparse (the Zipf-vocabulary
    instrument that measures the filter's selectivity)."""
    from pyspark.sql import Window as W

    tok = sh.select("doc_id", F.explode("sh").alias("s"))
    dfreq = tok.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    sized = sh.select("doc_id", F.size("sh").alias("a_n"))
    wr = W.partitionBy("doc_id").orderBy("df", "s")
    ranked = (
        tok.join(dfreq, "s")
        .withColumn("rn", F.row_number().over(wr))
        .join(sized, "doc_id")
    )
    probes = ranked.where(
        F.col("rn")
        <= F.expr(f"a_n * (100 - {CONTAIN_T_PCT}) div 100") + 1
    ).select("doc_id", "s")
    return (
        probes.alias("p")
        .join(tok.alias("t"), (F.col("t.s") == F.col("p.s"))
              & (F.col("t.doc_id") != F.col("p.doc_id")))
        .select(
            F.col("p.doc_id").alias("doc_a"), F.col("t.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _containment_best(
    sh: DataFrame, cand: DataFrame, broadcast_attach: bool = True
) -> DataFrame:
    """Exact verify + best-container election over the candidate
    pairs: containment = |A∩B|/|A| via array_intersect, keep each
    doc's best container at or above CONTAIN_REPORT_T. See
    txt_containment_prefix's docstring for the broadcast rationale.

    ``broadcast_attach`` picks the PHYSICAL strategy for the two
    shingle-attach joins (semantics identical): the dense-corpus op
    MUST broadcast (12M candidate rows × full shingle arrays would
    shuffle ~100 GB — the measured r8 lesson), but building the
    ~100 MB in-heap hash relation twice OOM-kills a DEFAULT-memory
    (1g driver) gate session — observed intermittently in full-front
    rehearsals. The sparse instrument has candidate counts in the
    tens of thousands, where a shuffle join costs about the same and
    stays inside any session's memory envelope, so it passes False."""
    from pyspark.sql import Window as W

    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    if broadcast_attach:
        sha, shb = F.broadcast(sha), F.broadcast(shb)
    scored = (
        cand.join(sha, "doc_a")
        .join(shb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sha", "shb")).cast("double")
                / F.size("sha")
            ).alias("containment"),
        )
        .where(F.col("containment") >= CONTAIN_REPORT_T)
    )
    wb = W.partitionBy("doc_a").orderBy(F.col("containment").desc(), "doc_b")
    return (
        scored.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") == 1)
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("container_id"),
            F.round("containment", 4).alias("containment"),
            (F.col("containment") >= CONTAIN_T).alias("is_contained"),
        )
    )



@REG.op(
    "txt_containment_prefix",
    oracle=f"""
    WITH sh0 AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
    tok AS (SELECT doc_id, unnest(sh) AS s FROM sh0),
    dfreq AS (SELECT s, count(*) AS df FROM tok GROUP BY 1),
    sized AS (SELECT doc_id, len(sh) AS a_n FROM sh0),
    ranked AS (
      SELECT t.doc_id, t.s,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY d.df, t.s) AS rn
      FROM tok t JOIN dfreq d ON d.s = t.s
    ),
    probes AS (
      SELECT r.doc_id, r.s FROM ranked r JOIN sized z ON z.doc_id = r.doc_id
      WHERE r.rn <= (z.a_n * (100 - {CONTAIN_T_PCT})) // 100 + 1
    ),
    cand AS (
      SELECT DISTINCT p.doc_id AS doc_a, t.doc_id AS doc_b
      FROM probes p JOIN tok t ON t.s = p.s AND t.doc_id <> p.doc_id
    ),
    -- inverted-index scoring (the _HIGH_TRUTH_ORACLE_CTES lesson):
    -- every candidate shares >= 1 shingle by construction, so the
    -- co-shingle count join is exact and avoids the per-pair
    -- list_intersect scans (~20 s -> ~2 s on the dense corpus)
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT i.doc_a, i.doc_b, i.i * 1.0 / z.a_n AS containment
      FROM inter i
      JOIN cand c ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
      JOIN sized z ON z.doc_id = i.doc_a
    ),
    best AS (
      SELECT doc_a, doc_b, containment,
             row_number() OVER (PARTITION BY doc_a
                                ORDER BY containment DESC, doc_b) AS rn
      FROM scored WHERE containment >= {CONTAIN_REPORT_T}
    )
    SELECT doc_a AS doc_id, doc_b AS container_id,
           round(containment, 4) AS containment,
           containment >= {CONTAIN_T} AS is_contained
    FROM best WHERE rn = 1
    """,
)
def txt_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-containment detection — the partial-copy case
    Jaccard misses: a short doc fully quoted inside a long one has low
    Jaccard (union is large) but containment |A∩B|/|A| ≈ 1. Training
    corpora prune these as redundant-with-context (the long doc stays).

    Scale shape is the PPJoin/prefix-filtering argument, not an
    all-pairs scan: if containment(A,B) ≥ t, then among ANY
    ⌊(1−t)·|A|⌋+1 shingles of A at least one is in B — so each doc
    probes the inverted index with only its ⌊(1−t)·|A|⌋+1 globally
    RAREST shingles (DF-ascending, shingle-string tiebreak, identical
    in the oracle), and candidates are pairs sharing a rare probe.
    Common-shingle postings are never enumerated from the probe side,
    which is what bounds candidates on a corpus where every doc shares
    stopword shingles with every other. Exact verify computes
    |A∩B|/|A| on the candidate pairs only (array_intersect over the
    two shingle sets), then keeps each doc's best container
    (containment desc, id asc). Emits one row per doc with a
    candidate at containment ≥ 0.5; is_contained flags the ≥ 0.9
    partial copies. All equi-joins — no cartesian anywhere.

    Broadcast note for the verify stage: Catalyst over-estimates the
    array frame past the auto-broadcast threshold and falls back to
    sort-merge — which SHUFFLES every candidate pair with both full
    string arrays attached. On a degenerate corpus (tiny shingle
    vocabulary → prefix filter can't prune → candidates ≈ all pairs,
    measured 12M pairs / 2041 distinct shingles at sf0.1) that was
    ~100 GB of exchange, 150+ s and an OOM risk; broadcasting keeps
    the pair frame 16 bytes wide and attaches arrays map-side
    (measured 150 s → ~8 s). At 100 TB the doc-side array frame
    outgrows a broadcast — then the sort-merge attach is the only
    plan and the real lever is the corpus itself (a healthy
    vocabulary makes candidates sparse again —
    txt_containment_sparse MEASURES exactly that claim on a
    Zipf-vocabulary fixture)."""
    sh = _shingles(spark, sf_dir).localCheckpoint()
    return _containment_best(sh, _containment_candidates(sh))


# ---------------------------------------------- dedup_lsh_fast_contract

LSH_HIGH_T = 0.9          # "must-catch" Jaccard band for the recall claim
LSH_RECALL_FLOOR_BP = 9000

# exact all-pairs string-shingle J >= LSH_HIGH_T truth rows per
# (session, sf_dir): THREE contracts certify against the identical
# truth (dedup_lsh_fast_contract, dedup_minhash_mllib_contract, and
# similarity.dedup_semantic_contract), so the gate-scale broadcast-NLJ
# instrument runs once per session instead of three times (~13 s/run
# at sf0.01 saved twice, at the suite, the driver window, and the
# bench alike). Pair-count-sized rows (25 at sf0.01, 256 at sf0.1) —
# the rows class, never cached frames.

# The truth-pair CTE all three contract ORACLES share, in INVERTED-
# INDEX form: the naive all-pairs list_intersect costs ~18 s at sf0.01
# in DuckDB (125k pairs x O(|s|) list scans); unnesting shingles and
# counting per-pair matches through a hash join computes the IDENTICAL
# Jaccard (J = i / (|a| + |b| - i); pairs sharing zero shingles have
# J = 0 and can never reach the 0.9 band, so the co-shingle join is
# lossless) in ~1.3 s — verified equal (25 pairs) before the swap.
# The driver's gate, the parity suite, and the rehearsal all pay this
# oracle per contract, so the form matters.
_HIGH_TRUTH_ORACLE_CTES = f"""
    sh AS (SELECT doc_id, {{shingles}} AS s FROM documents),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
              FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pairs AS (SELECT da AS doc_id FROM inter
              JOIN sh sa ON sa.doc_id = da
              JOIN sh sb ON sb.doc_id = db
              WHERE i * 1.0 / (len(sa.s) + len(sb.s) - i) >= {LSH_HIGH_T})
"""


def _high_truth_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        sh = _shingles(spark, sf_dir)
        a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
        b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
        # bounded: threshold-verified truth pairs — the contract
        # instrument's result rows (gate-scale fixture)
        return (
            F.broadcast(a)
            .join(b, F.col("doc_a") < F.col("doc_b"))
            .where(_jaccard("sa", "sb") >= LSH_HIGH_T)
            .select("doc_a", "doc_b")
        )

    return artifacts.rows("high_truth_pairs", spark, sf_dir, build)


@REG.op(
    "dedup_lsh_fast_contract",
    oracle=f"""
    WITH {_HIGH_TRUTH_ORACLE_CTES.format(shingles=_SHINGLES_SQL)}
    SELECT CAST(count(*) AS BIGINT) AS n_true_high_pairs,
           {LSH_RECALL_FLOOR_BP} AS recall_floor_bp,
           TRUE AS recall_ok,
           TRUE AS precision_ok
    FROM pairs
    """,
)
def dedup_lsh_fast_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level partial oracle for the rows-only xxhash64 LSH
    production path (the ep3_forecast_contract pattern): the JVM-only
    hash has no SQL twin, but the claims that make the op USABLE do —
    Spark measures recall of dedup_minhash_lsh_fast against the exact
    all-pairs J ≥ {LSH_HIGH_T} truth (must clear
    {LSH_RECALL_FLOOR_BP} bp — the banding math's guarantee band) and
    precision via an independent string-shingle recompute of every
    emitted pair's Jaccard (each must clear the {JACCARD_T} emission
    threshold and match the op's hashed-shingle value — a hash
    collision or broken band would flip it); the oracle recomputes
    the truth-pair count and asserts the booleans. The all-pairs
    truth is a broadcast NLJ over the 500-doc correctness corpus —
    gate-scale instrumentation, not a production path (the op under
    test exists precisely so production never does this)."""
    found = dedup_minhash_lsh_fast(spark, sf_dir).select(
        "doc_a", "doc_b", F.col("jaccard").alias("j_emitted")
    )
    # CACHE-FREE by design (round-10 lesson): instrument ops ran
    # .cache()/.unpersist() for intra-op reuse, and on a
    # default-memory gate session the cache build + the CacheManager's
    # rebuild sweep proved fragile (a failed build escalated through a
    # stale-entry NPE to a dead JVM, intermittently, mid-50-op-window).
    # Recomputing the shingle projection per consumer costs ~1-2 s at
    # gate scale and touches no shared mutable state.
    sh = _shingles(spark, sf_dir)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    jac = _jaccard("sa", "sb")
    truth = _high_truth_pairs(spark, sf_dir)  # session-shared instrument
    t_agg = truth.agg(F.count(F.lit(1)).alias("n_true_high_pairs"))
    hits = truth.join(found, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    prec = (
        found.join(a, "doc_a")
        .join(b, "doc_b")
        .agg(
            F.min(
                # threshold side carries the same 1e-3 slack as the
                # agreement check: emission filters on HASHED-shingle
                # Jaccard, and the documented ~3e-5 hashing divergence
                # can put a borderline pair at true J = T - epsilon
                # (the dedup_minhash_mllib_contract lesson)
                (jac >= JACCARD_T - 1e-3)
                & (F.abs(jac - F.col("j_emitted")) < 1e-3)
            ).alias("precision_ok")
        )
    )
    out = (
        t_agg.crossJoin(F.broadcast(hits))
        .crossJoin(F.broadcast(prec))
        .select(
            "n_true_high_pairs",
            F.lit(LSH_RECALL_FLOOR_BP).alias("recall_floor_bp"),
            (
                F.expr("CAST(n_hits * 10000 AS BIGINT) div n_true_high_pairs")
                >= LSH_RECALL_FLOOR_BP
            ).alias("recall_ok"),
            "precision_ok",
        )
    )
    return out


# --------------------------------------------- dedup_minhash_mllib

MLLIB_LSH_TABLES = 6  # per-pair candidate probability 1-(1-J)^6:
# ≥ 0.999999 at the J ≥ 0.9 recall band — the same guarantee class
# the banded xxhash64 path engineers by (bands × rows)
MLLIB_TF_FEATURES = 1 << 18  # hashing-trick width; the corpus has
# ~2k distinct shingles, so expected cross-shingle collisions ≈
# (2041 choose 2)/2^18 ≈ 8 globally (measured effect on any pair's
# Jaccard: ≤ 3e-5)


@REG.op("dedup_minhash_mllib")  # rows-only: seeded MinHash
# coefficients are learned-state-shaped (no SQL twin for the hash
# family); recall/precision are hash-certified by the contract below
def dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair mining via MLlib's OWN LSH stack — HashingTF
    (binary, the hashing-trick set encoding) into
    pyspark.ml.feature.MinHashLSH, approxSimilarityJoin at the shared
    {JACCARD_T} Jaccard threshold. The engine already ships two
    from-scratch MinHash paths (md5 oracle-replicable; banded xxhash64
    production); this is the third — the one a team inheriting a
    pyspark.ml codebase already runs — wired to the SAME shingle
    substrate and certified against the SAME exact truth, so the three
    implementations are directly comparable under one gate. All
    JVM-side: the LSH join explodes hash buckets, self-joins on
    (table, band value), and distance-filters candidates — Spark's own
    implementation of the salt-first banding this repo builds manually.

    Emitted jaccard is computed on the HASHED feature sets; measured
    divergence from string-shingle truth ≤ 3e-5 at this feature width
    (the contract re-verifies every pair against the string truth).

    Scale: identical shape to dedup_minhash_lsh_fast — bucket-grain
    self-join, no all-pairs anywhere; numHashTables trades recall for
    candidate volume exactly like the manual path's band count."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = _shingles(spark, sf_dir).where(F.size("sh") > 0)
    feats = HashingTF(
        inputCol="sh", outputCol="features",
        numFeatures=MLLIB_TF_FEATURES, binary=True,
    ).transform(sh)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes",
        numHashTables=MLLIB_LSH_TABLES, seed=9999,
    ).fit(feats)
    return (
        model.approxSimilarityJoin(feats, feats, 1.0 - JACCARD_T, distCol="jd")
        .where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(1.0 - F.col("jd"), 6).alias("jaccard"),
        )
    )


@REG.op(
    "dedup_minhash_mllib_contract",
    oracle=f"""
    WITH {_HIGH_TRUTH_ORACLE_CTES.format(shingles=_SHINGLES_SQL)}
    SELECT CAST(count(*) AS BIGINT) AS n_true_high_pairs,
           {LSH_RECALL_FLOOR_BP} AS recall_floor_bp,
           TRUE AS recall_ok,
           TRUE AS precision_ok
    FROM pairs
    """,
)
def dedup_minhash_mllib_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_lsh_fast_contract's exact claims, applied to the MLlib
    path — so the driver gate certifies all three MinHash
    implementations against one truth: recall of
    dedup_minhash_mllib vs the exact all-pairs string-shingle
    J ≥ {LSH_HIGH_T} truth must clear {LSH_RECALL_FLOOR_BP} bp
    (measured 25/25 at sf0.01 — 1-(1-J)^{MLLIB_LSH_TABLES} ≥ 0.999999
    in the band), and every emitted pair's TRUE Jaccard must clear the
    {JACCARD_T} emission threshold and agree with the hashed-set value
    within 1e-3 (measured divergence ≤ 3e-5; a feature-width change
    that starts colliding shingles materially flips this first). The
    oracle recomputes the truth-pair count and asserts the booleans.
    The all-pairs truth is gate-scale instrumentation over the 500-doc
    correctness corpus, not a production path."""
    found = dedup_minhash_mllib(spark, sf_dir).select(
        "doc_a", "doc_b", F.col("jaccard").alias("j_emitted")
    )
    sh = _shingles(spark, sf_dir)  # cache-free: see dedup_lsh_fast_contract
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    jac = _jaccard("sa", "sb")
    truth = _high_truth_pairs(spark, sf_dir)  # session-shared instrument
    t_agg = truth.agg(F.count(F.lit(1)).alias("n_true_high_pairs"))
    hits = truth.join(found, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    prec = (
        found.join(a, "doc_a")
        .join(b, "doc_b")
        .agg(
            # the threshold side carries the SAME 1e-3 hashing-trick
            # slack as the agreement check: emission filtered on the
            # HASHED-feature Jaccard, so a borderline pair
            # (hashed >= T, true T-eps) must not flip the boolean on a
            # corpus / feature-width change
            F.min(
                (jac >= JACCARD_T - 1e-3)
                & (F.abs(jac - F.col("j_emitted")) < 1e-3)
            ).alias("precision_ok")
        )
    )
    out = (
        t_agg.crossJoin(F.broadcast(hits))
        .crossJoin(F.broadcast(prec))
        .select(
            "n_true_high_pairs",
            F.lit(LSH_RECALL_FLOOR_BP).alias("recall_floor_bp"),
            (
                F.expr("CAST(n_hits * 10000 AS BIGINT) div n_true_high_pairs")
                >= LSH_RECALL_FLOOR_BP
            ).alias("recall_ok"),
            "precision_ok",
        )
    )
    return out


# ---------------------------------------------- txt_containment_sparse

ZIPF_N_DOCS = 5000      # fixture size ≈ the sf0.1 documents table
ZIPF_VOCAB = 20000      # distinct words — the healthy-corpus premise
ZIPF_A = 1.3            # Zipf exponent (web-text-ish head/tail shape)
ZIPF_PLANT_EVERY = 20   # every 20th doc is a planted contained copy
ZIPF_SLICE_WORDS = 30   # planted doc = this many contiguous words


def _zipf_corpus(
    n_docs: int = ZIPF_N_DOCS,
    vocab_size: int = ZIPF_VOCAB,
) -> tuple[list[tuple[int, str]], list[tuple[int, int]]]:
    """Deterministic Zipf-vocabulary corpus with planted containments —
    the realistic-text-shaped fixture the degenerate synthetic corpus
    (2,041 distinct shingles over 5,000 docs, candidates ≈ all pairs)
    cannot provide. numpy RandomState(42) streams are frozen across
    platforms, so both the op and its golden test see byte-identical
    text. Every ZIPF_PLANT_EVERY-th doc's text is a contiguous
    ZIPF_SLICE_WORDS-word slice of a non-planted partner doc — its
    char shingle set is a strict subset of the partner's, so true
    containment is exactly 1.0. Returns (docs, planted) where planted
    is [(contained_doc_id, container_doc_id), ...]."""
    import numpy as np

    rng = np.random.RandomState(42)
    vocab_rng = np.random.RandomState(7)
    lengths = vocab_rng.randint(5, 11, size=vocab_size)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = [
        "".join(letters[c] for c in vocab_rng.randint(0, 26, size=n))
        for n in lengths
    ]
    words_of: list[list[str]] = []
    for _ in range(n_docs):
        n_words = int(rng.randint(60, 161))
        ranks = (rng.zipf(ZIPF_A, size=n_words) - 1) % vocab_size
        words_of.append([vocab[r] for r in ranks])
    planted: list[tuple[int, int]] = []
    for i in range(0, n_docs, ZIPF_PLANT_EVERY):
        j = i + 1  # i % 20 == 0 → j is never itself planted
        lo = int(rng.randint(0, len(words_of[j]) - ZIPF_SLICE_WORDS))
        words_of[i] = words_of[j][lo : lo + ZIPF_SLICE_WORDS]
        planted.append((i, j))
    docs = [(i, " ".join(w)) for i, w in enumerate(words_of)]
    return docs, planted


def _zipf_shingles(spark: SparkSession) -> tuple[DataFrame, list]:
    """The fixture is static by construction, so the "zipf_corpus"
    artifact (no input dir) stores the GENERATED ROWS (plain Python —
    the expensive part is the numpy corpus generation), not a cached
    DataFrame. The previous .cache() kept an ~85 MB columnar
    shingle relation resident for the rest of the session — on a
    default-memory (1g-driver) gate session running 50 ops, that
    resident block plus this op's own working set intermittently
    OOM-killed the JVM mid-window (Spark's uncaught-OOM handler calls
    System.exit in local mode). A fresh LocalRelation per call costs a
    ~4 MB plan and a transient per-task shingle projection instead of
    any pinned storage."""
    docs, planted = artifacts.get_or_build("zipf_corpus", spark, None, _zipf_corpus)
    sh = (
        spark.createDataFrame(docs, "doc_id long, text string")
        .repartition(8)  # low-concurrency: see txt_containment_sparse
        .select("doc_id", _shingles_col().alias("sh"))
    )
    return sh, planted


@REG.op("txt_containment_sparse")  # rows-only BY DESIGN: the corpus is
# a generated fixture, not an sf_dir table, so no DuckDB view exists
# for a SQL twin; tests/test_dedup_recall.py pins the exact stats row
# (recall 1.0 vs all-pairs truth on a smaller instance + candidate
# sparsity) and determinism follows from the frozen RandomState
def txt_containment_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sparse-corpus instrument for the prefix filter: runs the
    EXACT txt_containment_prefix pipeline (_containment_candidates →
    _containment_best, same thresholds) on a Zipf-vocabulary fixture
    where rare shingles exist — the corpus shape real text has — and
    emits the selectivity evidence as a single stats row:

      n_docs, n_possible_pairs (n·(n−1)), n_candidate_pairs,
      cand_share_bp (candidates per 10,000 possible ordered pairs),
      n_planted, n_recalled (planted copies found with the RIGHT
      container at containment 1.0), n_flagged (all is_contained).

    Why it exists: on the degenerate synthetic documents table the
    filter's candidate set is dense (~12M of 12.5M pairs at sf0.1 —
    measured, a data property) and the 33 s/pass bench number cannot
    distinguish 'PPJoin works' from 'PPJoin is dead weight'. On this
    fixture the same code must show candidates ≪ n² with recall 1.0
    — separating the algorithm from the corpus. sf_dir is ignored
    (fixture is sf-independent by construction: what's measured is
    the FILTER, not the table). Scale: generation is driver-side but
    fixture-sized (≈4 MB); everything after createDataFrame is the
    production pipeline — at 100 TB the corpus comes from the lake
    and this op's job is already done.

    Memory discipline (round 10, measured): a DEFAULT-memory gate
    session (1g driver heap shared by all 32 local executor threads)
    intermittently OOM-died inside this op — first via a pinned 85 MB
    shingle cache, then via Catalyst auto-broadcast builds racing 32
    concurrent tasks' buffers for the last of the heap ("Not enough
    memory to build and broadcast"); disabling auto-broadcast only
    traded that for raw task OOMs (full sorts × 32 threads). The
    working lever is CONCURRENCY: the op runs its whole computation
    EAGERLY at 8 shuffle partitions (tables.pinned_conf, like the gate
    streams), quadrupling per-task headroom; the single
    reused intermediate (the ~2 MB candidate pair list) is an
    RDD-level localCheckpoint that never touches the SQL
    CacheManager, and no SQL .cache() exists anywhere in the op.

    Result row (round 11): the fixture is static and the pipeline
    deterministic, so the ONE stats row is the "containment_row"
    artifact (no input dir), computed once per session and replayed
    thereafter — rows, never cached frames. The cache-free execution
    path is unchanged; bench and the 50-op gate window pay the ~13 s
    pipeline once, and bench reports it in its cold map."""
    row, schema = artifacts.get_or_build(
        "containment_row", spark, None, lambda: _containment_row(spark)
    )
    return spark.createDataFrame([row], schema)


def _containment_row(spark: SparkSession) -> tuple:
    sh, planted = _zipf_shingles(spark)
    # LOW-CONCURRENCY execution (the STREAM_STATE_PARTITIONS pattern):
    # the stability lever on a small-heap session is how many tasks
    # allocate sort/hash buffers AT ONCE — 8-way instead of 32-way
    # quadruples per-task headroom and bounds the aggregate footprint,
    # while the tiny dimension tables keep their cheap auto-broadcasts
    with pinned_conf(spark, "spark.sql.shuffle.partitions", "8"):
        cand = _containment_candidates(sh).localCheckpoint()
        best = _containment_best(sh, cand, broadcast_attach=False)
        planted_df = F.broadcast(
            spark.createDataFrame(planted, "p_doc long, p_container long")
        )
        n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
        per = (
            best.where("is_contained")
            .join(
                planted_df,
                (F.col("doc_id") == F.col("p_doc"))
                & (F.col("container_id") == F.col("p_container")),
                "left",
            )
            .agg(
                F.count(F.lit(1)).alias("n_flagged"),
                F.count(F.col("p_doc")).alias("n_recalled"),
            )
        )
        n_pairs = ZIPF_N_DOCS * (ZIPF_N_DOCS - 1)
        stats = (
            n_cand.crossJoin(per)
            .select(
                F.lit(ZIPF_N_DOCS).alias("n_docs"),
                F.lit(n_pairs).cast("bigint").alias("n_possible_pairs"),
                "n_candidate_pairs",
                F.expr(
                    f"CAST(n_candidate_pairs * 10000 AS BIGINT) div {n_pairs}"
                ).alias("cand_share_bp"),
                F.lit(len(planted)).alias("n_planted"),
                "n_recalled",
                "n_flagged",
            )
        )
        # eager: the low-concurrency guarantee must hold at
        # EXECUTION time, which for a lazily returned frame would be
        # after the conf is restored
        return stats.first(), stats.schema


# ---------------------------------------------- dedup_span_extract

# Span-level (substring) dedup — the distributed re-expression of
# exact-substring training-data dedup (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better", arXiv:2107.06499, which
# builds a corpus-wide suffix array). A suffix array is inherently
# sequential to construct; the Spark-first equivalent detects every
# duplicated token run of length >= SPAN_GRAM exactly, via fixed-width
# gram hashing + the gaps-and-islands window pattern:
#   * every SPAN_GRAM-token gram inside a duplicated run of length R
#     is itself duplicated, so the run appears as R - SPAN_GRAM + 1
#     consecutive duplicated gram positions;
#   * merging consecutive positions (pos - row_number() islands)
#     recovers the MAXIMAL duplicated run — same output granularity as
#     the suffix-array method, with runs < SPAN_GRAM invisible by
#     design (the standard min-match-length knob; Lee et al. use 50
#     BPE tokens, these docs are ~30-160 words so 8 fits the corpus).
SPAN_GRAM = 8      # minimum duplicated run length, in word tokens
SPAN_MIN_DOCS = 2  # a gram is "duplicated" when seen in >= 2 docs

_SPAN_TOKS_SQL = "list_filter(string_split(text, ' '), t -> t <> '')"

# shared oracle CTE chain: tokens -> positioned grams -> cross-doc
# duplicated grams -> maximal islands -> spans with content md5
_SPAN_ORACLE_CTES = f"""
    t AS (SELECT doc_id, {_SPAN_TOKS_SQL} AS toks FROM documents),
    p AS (SELECT doc_id, toks,
                 unnest(generate_series(1, len(toks) - {SPAN_GRAM - 1})) AS pos
          FROM t WHERE len(toks) >= {SPAN_GRAM}),
    g AS (SELECT doc_id, pos,
                 md5(array_to_string(toks[pos:pos + {SPAN_GRAM - 1}], ' ')) AS h
          FROM p),
    dup AS (SELECT h FROM g GROUP BY h
            HAVING count(DISTINCT doc_id) >= {SPAN_MIN_DOCS}),
    d AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)),
    isl AS (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                     AS grp
            FROM d),
    runs AS (SELECT doc_id, min(pos) AS span_start,
                    max(pos) + {SPAN_GRAM - 1} AS span_end,
                    count(*) AS n_dup_grams
             FROM isl GROUP BY doc_id, grp),
    spans AS (SELECT r.doc_id,
                     CAST(r.span_start AS BIGINT) AS span_start,
                     CAST(r.span_end AS BIGINT) AS span_end,
                     CAST(r.span_end - r.span_start + 1 AS BIGINT)
                       AS span_tokens,
                     CAST(r.n_dup_grams AS BIGINT) AS n_dup_grams,
                     md5(array_to_string(t.toks[r.span_start:r.span_end], ' '))
                       AS span_md5
              FROM runs r JOIN t USING (doc_id))
"""


def _span_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, h): every SPAN_GRAM-token gram with its 1-based
    start position. Explodes the CHEAP position sequence and hashes
    per exploded row — NOT transform-then-explode: exploding a
    precomputed hash array makes InferFiltersFromGenerate push a
    filter containing the whole md5-transform expression below the
    repartition exchange, so the full hashing pass ran twice, once
    single-task on the one-row-group scan (measured 3.3 s at sf0.1;
    this shape reads 0.3 s). The md5 project sits after the explode
    in the same codegen stage, so toks is never shuffled per gram."""
    seq = F.when(
        F.size("toks") >= SPAN_GRAM,
        F.sequence(F.lit(1), F.size("toks") - (SPAN_GRAM - 1)),
    ).otherwise(F.array().cast("array<int>"))
    p = docs.select("doc_id", "toks", F.explode(seq).alias("pos"))
    return p.select(
        "doc_id",
        "pos",
        F.md5(
            F.concat_ws(" ", F.slice("toks", F.col("pos"), SPAN_GRAM))
        ).alias("h"),
    )


def _dup_spans(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(docs(doc_id, toks), spans) — the maximal cross-doc duplicated
    token runs. Shuffles: ONE hash aggregate on gram hash (uniform md5
    keys, no skew — and gram hashing runs ONCE: the duplicated-gram
    decision is a min/max window over the same shuffle, not a
    groupBy + join-back, which would recompute the 3.5 s hashing
    pass a second time), one window + one aggregate partitioned by
    doc_id, one doc_id join for the span content hash. Never
    all-pairs: duplication is decided per GRAM, not by comparing
    documents. The scan is spread_scan: documents.parquet is one
    row-group, and an unspread scan serializes the hashing onto one
    core (measured 3.5 s single-task vs sub-second spread)."""
    from pyspark.sql import Window as W

    docs = spread_scan(load(spark, sf_dir, "documents")).select(
        "doc_id", F.array_remove(F.split("text", " "), "").alias("toks")
    )
    g = _span_grams(docs)
    # min(doc_id) != max(doc_id) over the gram hash IS
    # count(DISTINCT doc_id) >= 2 — exactly SPAN_MIN_DOCS=2 (a
    # different floor would need a real distinct count; the oracle
    # states the count-distinct form)
    assert SPAN_MIN_DOCS == 2, "min/max window encodes >= 2 distinct docs"
    w_h = W.partitionBy("h")
    d = (
        g.select(
            "doc_id",
            "pos",
            (
                F.min("doc_id").over(w_h) != F.max("doc_id").over(w_h)
            ).alias("is_dup"),
        )
        .where("is_dup")
        .select("doc_id", "pos")
    )
    isl = d.select(
        "doc_id",
        "pos",
        (
            F.col("pos")
            - F.row_number().over(W.partitionBy("doc_id").orderBy("pos"))
        ).alias("grp"),
    )
    runs = isl.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (SPAN_GRAM - 1)).alias("span_end"),
        F.count(F.lit(1)).alias("n_dup_grams"),
    )
    spans = runs.join(docs, "doc_id").select(
        "doc_id",
        F.col("span_start").cast("bigint").alias("span_start"),
        F.col("span_end").cast("bigint").alias("span_end"),
        (F.col("span_end") - F.col("span_start") + 1)
        .cast("bigint")
        .alias("span_tokens"),
        F.col("n_dup_grams").cast("bigint").alias("n_dup_grams"),
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    "toks",
                    F.col("span_start").cast("int"),
                    (F.col("span_end") - F.col("span_start") + 1).cast("int"),
                ),
            )
        ).alias("span_md5"),
    )
    return docs, spans


@REG.op(
    "dedup_span_extract",
    oracle=f"""
    WITH {_SPAN_ORACLE_CTES}
    SELECT doc_id, span_start, span_end, span_tokens, n_dup_grams, span_md5
    FROM spans
    """,
)
def dedup_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level duplicate detection: every MAXIMAL token
    run of length >= {SPAN_GRAM} that appears in >= {SPAN_MIN_DOCS}
    documents, with its in-document position and a content md5 — the
    span-granularity member of the dedup family (doc-level: minhash /
    simhash; whole-doc containment: txt_containment_prefix; localized
    pair evidence: txt_winnowing; THIS op: the actual duplicated
    substrings, the unit the substring-dedup literature removes).

    Method (see the SPAN_GRAM comment block): hash every {SPAN_GRAM}-
    gram, keep grams seen in >= {SPAN_MIN_DOCS} distinct docs, merge
    consecutive duplicated positions per doc into maximal islands via
    the pos - row_number() gaps-and-islands window. Detection is EXACT
    for runs >= {SPAN_GRAM} tokens: every such run produces only
    consecutive duplicated gram positions, and island merging is
    lossless. md5 grams make the DuckDB oracle replicate the whole
    pipeline bit-for-bit.

    Scale (100 TB): the gram table is ~tokens-per-corpus rows; the only
    corpus-wide shuffle is the groupBy on uniform md5 gram keys (plus
    the join back — same key, AQE-coalesced); islands are a per-doc
    window (shuffle keyed by doc_id, no skew beyond doc length); no
    pairwise comparison ever materializes, unlike the suffix-array
    build which needs a global sort of every suffix."""
    _docs, spans = _dup_spans(spark, sf_dir)
    return spans


# ------------------------------------------- corpus_remove_dup_spans

# the rewrite as a reusable CTE chain (consumed by the remove op's own
# oracle AND ep13's curation capstone): spans -> canonical-occurrence
# ranking -> removable intervals -> kept tokens -> per-doc rewrite row
_SPAN_REWRITE_CTES = f"""{_SPAN_ORACLE_CTES},
    ranked AS (SELECT doc_id, span_start, span_end,
                      row_number() OVER (PARTITION BY span_md5
                                         ORDER BY doc_id, span_start) AS rk
               FROM spans),
    rem AS (SELECT doc_id, span_start, span_end FROM ranked WHERE rk > 1),
    tok AS (SELECT doc_id,
                   unnest(generate_series(1, len(toks))) AS pos
            FROM t),
    tokw AS (SELECT tok.doc_id, tok.pos, t.toks[tok.pos] AS w
             FROM tok JOIN t USING (doc_id)),
    kept AS (SELECT tokw.doc_id, tokw.pos, tokw.w
             FROM tokw
             WHERE NOT EXISTS (SELECT 1 FROM rem
                               WHERE rem.doc_id = tokw.doc_id
                                 AND tokw.pos BETWEEN rem.span_start
                                                  AND rem.span_end)),
    agg AS (SELECT doc_id, count(*) AS n_tokens_kept,
                   md5(string_agg(w, ' ' ORDER BY pos)) AS clean_md5
            FROM kept GROUP BY doc_id),
    rw AS (SELECT t.doc_id,
                  CAST(len(t.toks) AS BIGINT) AS n_tokens_before,
                  CAST(coalesce(a.n_tokens_kept, 0) AS BIGINT)
                    AS n_tokens_kept,
                  coalesce(a.clean_md5, md5('')) AS clean_md5
           FROM t LEFT JOIN agg a USING (doc_id))
"""


@REG.op(
    "corpus_remove_dup_spans",
    oracle=f"""
    WITH {_SPAN_REWRITE_CTES}
    SELECT doc_id, n_tokens_before, n_tokens_kept, clean_md5 FROM rw
    """,
)
def corpus_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REWRITE half of substring dedup (Lee et al. 2022 remove all
    but one occurrence of each duplicated substring): every maximal
    duplicated span from dedup_span_extract is removed from every
    document EXCEPT its canonical first occurrence — rank occurrences
    of the same span content (span_md5) by (doc_id, span_start), keep
    rank 1. Islands are maximal and therefore disjoint within a doc,
    so removals never overlap and token accounting is exact. Spans
    whose maximal extent differs between docs (one doc shares extra
    grams with a third doc) carry different content hashes and are
    kept in both — the documented boundary of island-identity
    semantics vs the suffix-array method.

    Output is the full corpus accounting: per doc, tokens before,
    tokens kept, and the md5 of the rewritten text (order-preserving
    reconstruction) — the value the oracle certifies, so a off-by-one
    span boundary or a reordered token stream hash-mismatches.

    Scale (100 TB): span discovery as dedup_span_extract; the removal
    itself is a left_anti range join keyed on doc_id (spans per doc
    are few and short, so the per-key range probe is cheap), and the
    reconstruction is one per-doc aggregate (sort_array over collected
    (pos, token) structs — bounded by doc length, the same bound the
    tokenizer already assumes)."""
    docs, spans = _dup_spans(spark, sf_dir)
    from pyspark.sql import Window as W

    ranked = spans.select(
        "doc_id",
        "span_start",
        "span_end",
        F.row_number()
        .over(W.partitionBy("span_md5").orderBy("doc_id", "span_start"))
        .alias("rk"),
    )
    rem = ranked.where(F.col("rk") > 1).select(
        F.col("doc_id").alias("r_doc"),
        "span_start",
        "span_end",
    )
    # r14 (guide §2.4): one exploded pass carries the doc's token count
    # alongside each token and the removal decision becomes a left-join
    # FLAG folded into the per-doc aggregate — the before plan scanned
    # documents a second time for `size(toks)` and re-attached the
    # accounting through a final broadcast join
    # (plans/r14/corpus_remove_dup_spans_before.txt: Scan (1) +
    # Exchange (2) + BroadcastHashJoin (46), all gone after).
    # posexplode_outer keeps zero-token docs as a (null, null) row so
    # every doc still aggregates (md5('') / 0 kept, as before). The
    # left join cannot duplicate rows: islands are disjoint within a
    # doc, so a position falls in at most one removed span. The join
    # stays KEYED on doc_id (rem is corpus-proportional at 100 TB —
    # broadcasting it would not scale; the doc_id partitioning feeds
    # the aggregate with no further exchange).
    tokw = docs.select(
        "doc_id",
        F.size("toks").alias("n0"),
        F.posexplode_outer("toks").alias("pos0", "w"),
    ).select("doc_id", "n0", (F.col("pos0") + 1).alias("pos"), "w")
    flagged = tokw.join(
        rem,
        (F.col("doc_id") == F.col("r_doc"))
        & F.col("pos").between(F.col("span_start"), F.col("span_end")),
        "left",
    )
    keep = F.col("r_doc").isNull() & F.col("w").isNotNull()
    return flagged.groupBy("doc_id").agg(
        F.max("n0").cast("bigint").alias("n_tokens_before"),
        F.count(F.when(keep, 1)).cast("bigint").alias("n_tokens_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(keep, F.struct("pos", "w")))
                    ),
                    lambda s: s["w"],
                ),
            )
        ).alias("clean_md5"),
    ).select("doc_id", "n_tokens_before", "n_tokens_kept", "clean_md5")


# ------------------------------------------- ep13_span_curation_e2e

EP13_MIN_TOKENS = 20  # post-rewrite survival floor: a doc whose unique
#                       content shrinks below this is dedup residue,
#                       not trainable signal

# the md5-bucket split rule comes FROM the split op, not a restatement,
# so ep13 and corpus_split_hash can never drift apart (pipeline_ops has
# no import back into this module — no cycle)
from claim_analysis_engine_spark.operators.pipeline_ops import (  # noqa: E402
    _SPLIT_SQL,
    _split_col,
)


@REG.op(
    "ep13_span_curation_e2e",
    oracle=f"""
    WITH {_SPAN_REWRITE_CTES},
    s AS (SELECT rw.*, {{split_sql}} AS split
          FROM rw
          WHERE n_tokens_kept >= {EP13_MIN_TOKENS})
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens_kept) AS BIGINT) AS tokens_total,
           CAST(sum(n_tokens_before - n_tokens_kept) AS BIGINT)
             AS tokens_shaved,
           md5(string_agg(clean_md5, '' ORDER BY doc_id)) AS content_witness
    FROM s GROUP BY 1
    """.replace("{split_sql}", _SPLIT_SQL),
)
def ep13_span_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURATION CAPSTONE over the substring-dedup rewrite — the
    pipeline a training-data run actually executes, certified under
    ONE hash: rewrite every document with duplicated spans removed
    (corpus_remove_dup_spans — canonical first occurrence kept), gate
    out docs whose surviving content drops below EP13_MIN_TOKENS
    (dedup residue), assign the survivors to the SAME deterministic
    md5 train/val/test buckets corpus_split_hash uses (imported, not
    re-stated — the rules cannot drift), and account per split: doc
    count, surviving tokens, tokens shaved by dedup, and an
    order-insensitive corpus content witness (md5 over the doc-id-
    ordered concatenation of per-doc rewrite hashes — a changed byte
    in ANY surviving doc, a dropped doc, or a split-assignment drift
    all flip it).

    Composition provenance: spans/rewrite = dedup_span_extract /
    corpus_remove_dup_spans (shared _dup_spans plan); split rule =
    corpus_split_hash's _split_col; the e2e claim is that the three
    certified stages COMPOSE — the reference analog is ep4's
    quality->dedup->split corpus run (pages/9 curation flow).

    Scale: adds one split projection and one split-grain aggregate on
    top of the rewrite plan — zero new corpus-wide shuffles beyond
    corpus_remove_dup_spans' own."""
    rw = corpus_remove_dup_spans(spark, sf_dir)
    surv = rw.where(F.col("n_tokens_kept") >= EP13_MIN_TOKENS).select(
        "doc_id",
        "n_tokens_before",
        "n_tokens_kept",
        "clean_md5",
        _split_col("doc_id").alias("split"),
    )
    return surv.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens_kept").cast("bigint").alias("tokens_total"),
        F.sum(F.col("n_tokens_before") - F.col("n_tokens_kept"))
        .cast("bigint")
        .alias("tokens_shaved"),
        F.md5(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "clean_md5"))
                    ),
                    lambda s: s["clean_md5"],
                ),
            )
        ).alias("content_witness"),
    )




# ---------------------------------------------- txt_dup_span_frac

@REG.op(
    "txt_dup_span_frac",
    oracle=f"""
    WITH {_SPAN_ORACLE_CTES},
    cov AS (SELECT doc_id, sum(span_tokens) AS covered, count(*) AS n_spans
            FROM spans GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(c.covered, 0) AS BIGINT) AS dup_tokens,
           CAST(coalesce(c.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(c.covered, 0) * 10000 AS BIGINT)
             // greatest(len(t.toks), 1) AS dup_frac_bp
    FROM t LEFT JOIN cov c USING (doc_id)
    """,
)
def txt_dup_span_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DUPLICATION SCORE: the fraction of a doc's tokens
    covered by cross-doc duplicated spans (dedup_span_extract's
    islands — disjoint within a doc, so the sum is exact coverage),
    in integer basis points. The quality-filter complement to the
    rewrite op: curation stacks often SCORE-and-threshold on
    duplicate fraction (the C4/Gopher-style rule family
    txt_repetition covers intra-doc; this is the cross-doc axis)
    rather than surgically rewriting. Every doc is emitted — zero
    spans means a 0 bp score, so the column is a total signal the
    quality funnel can join.

    Scale: dedup_span_extract's plan plus one doc-grain aggregate and
    one left join on doc_id; integer bp arithmetic keeps the value
    hash-exact across engines."""
    docs, spans = _dup_spans(spark, sf_dir)
    cov = spans.groupBy("doc_id").agg(
        F.sum("span_tokens").alias("covered"),
        F.count(F.lit(1)).alias("n_spans"),
    )
    return docs.join(cov, "doc_id", "left").select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.coalesce(F.col("covered"), F.lit(0)).cast("bigint").alias(
            "dup_tokens"
        ),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
        F.expr(
            "CAST(coalesce(covered, 0) * 10000 AS BIGINT)"
            " div greatest(size(toks), 1)"
        ).alias("dup_frac_bp"),
    )


# ------------------------------------------- dedup_span_incremental

SPAN_INC_MOD = 5  # doc_id % MOD == 0 plays the NEW snapshot; rest = corpus


@REG.op(
    "dedup_span_incremental",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SPAN_TOKS_SQL} AS toks FROM documents),
    p AS (SELECT doc_id, toks,
                 unnest(generate_series(1, len(toks) - {SPAN_GRAM - 1})) AS pos
          FROM t WHERE len(toks) >= {SPAN_GRAM}),
    g AS (SELECT doc_id, pos,
                 md5(array_to_string(toks[pos:pos + {SPAN_GRAM - 1}], ' ')) AS h
          FROM p),
    old_g AS (SELECT DISTINCT h FROM g WHERE doc_id % {SPAN_INC_MOD} <> 0),
    d AS (SELECT g.doc_id, g.pos FROM g
          JOIN old_g USING (h)
          WHERE g.doc_id % {SPAN_INC_MOD} = 0),
    isl AS (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                     AS grp
            FROM d),
    runs AS (SELECT doc_id, min(pos) AS span_start,
                    max(pos) + {SPAN_GRAM - 1} AS span_end
             FROM isl GROUP BY doc_id, grp)
    SELECT r.doc_id,
           CAST(r.span_start AS BIGINT) AS span_start,
           CAST(r.span_end AS BIGINT) AS span_end,
           CAST(r.span_end - r.span_start + 1 AS BIGINT) AS span_tokens,
           md5(array_to_string(t.toks[r.span_start:r.span_end], ' '))
             AS span_md5
    FROM runs r JOIN t USING (doc_id)
    """,
)
def dedup_span_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL substring dedup — the arriving-crawl shape
    (dedup_cross_snapshot's asymmetry at span granularity): only the
    NEW snapshot's docs (doc_id % {SPAN_INC_MOD} == 0, the
    deterministic stand-in for an arrival batch) are checked, and
    only against the EXISTING corpus's gram set — never new-vs-new,
    never old-vs-old re-pairing. A maximal token run in a new doc is
    flagged iff every gram of it already exists in the old corpus,
    so a crawler can strip previously-seen passages from arrivals
    without re-touching the corpus.

    Scale: the old side reduces to a DISTINCT gram-hash set (built
    once per ingest wave and reusable across arrival batches — at
    100 TB this is the persisted gram index, append-only as waves
    land); the new side is arrival-sized. The join is new-grams ×
    gram-index on the uniform md5 key; islands window only the
    arrival docs. Contrast dedup_span_extract, which certifies the
    symmetric corpus-wide pass."""
    from pyspark.sql import Window as W

    docs = spread_scan(load(spark, sf_dir, "documents")).select(
        "doc_id", F.array_remove(F.split("text", " "), "").alias("toks")
    )
    g = _span_grams(docs)
    old_g = (
        g.where(F.col("doc_id") % SPAN_INC_MOD != 0).select("h").distinct()
    )
    d = (
        g.where(F.col("doc_id") % SPAN_INC_MOD == 0)
        .join(old_g, "h")
        .select("doc_id", "pos")
    )
    isl = d.select(
        "doc_id",
        "pos",
        (
            F.col("pos")
            - F.row_number().over(W.partitionBy("doc_id").orderBy("pos"))
        ).alias("grp"),
    )
    runs = isl.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (SPAN_GRAM - 1)).alias("span_end"),
    )
    return runs.join(docs, "doc_id").select(
        "doc_id",
        F.col("span_start").cast("bigint").alias("span_start"),
        F.col("span_end").cast("bigint").alias("span_end"),
        (F.col("span_end") - F.col("span_start") + 1)
        .cast("bigint")
        .alias("span_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    "toks",
                    F.col("span_start").cast("int"),
                    (F.col("span_end") - F.col("span_start") + 1).cast("int"),
                ),
            )
        ).alias("span_md5"),
    )
