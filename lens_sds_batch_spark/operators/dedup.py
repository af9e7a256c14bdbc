"""Deduplication operators over the ``documents`` table (north-star B11).

Four tiers, all designed for 100 TB corpora:

- exact         — hash-groupBy on raw text (one shuffle on the hash)
- fingerprint   — normalize → md5; catches whitespace/punct variants
- n-gram jaccard — blocked candidate pairs + exact set jaccard
- MinHash-LSH   — shingle → K minhashes → banded bucket join; the
                  scale path (candidate generation is linear + a
                  self-join *within* buckets only, with a hot-bucket
                  cap for skew)

Everything is Catalyst built-ins (split / transform / aggregate /
array_distinct / md5) — no Python UDFs — so the DuckDB oracles can
replicate each step exactly.  The distinct-set sizes use the
``|A∩B| = |A|+|B|-|A∪B|`` identity so both engines count identically.

Every pair generator caps its work (block/bucket caps against skew);
``dedup_coverage`` (r14) is the matching RUNTIME telemetry — per tier,
what the caps dropped or deferred on a given corpus — and the curation
funnel's near-dedup stage carries the same count as ``n_bypassed``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import local_ckpt
from ..sources.parquet import fan_out, load_table

# MinHash parameters: K hashes in B bands of R rows (K = B*R).
MINHASH_K = 16
MINHASH_BANDS = 4
MINHASH_R = 4
HOT_BUCKET_CAP = 50  # LSH skew guard: drop buckets larger than this
JACCARD_THRESHOLD = 0.7


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keeper = min doc_id per identical text."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keeper_id", "n_copies")
    )


DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY text ORDER BY keeper_id
"""


def _normalize(col):
    return F.regexp_replace(F.regexp_replace(F.lower(col), "[^a-z0-9 ]", ""), " +", " ")


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint dedup: md5 over normalized text."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(_normalize(F.col("text")).cast("binary")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


DEDUP_FINGERPRINT_SQL = """
SELECT fingerprint, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM (
  SELECT doc_id,
         md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS fingerprint
  FROM documents
)
GROUP BY fingerprint ORDER BY keeper_id
"""


def _words(col):
    return F.split(col, " ")


JACCARD_BLOCK_CAP = 200  # skew guard: drop (lang, len_bucket) blocks larger than this
JACCARD_BUCKET_W = 2  # words per length bucket (blocking granularity)
# Max EXTRA buckets probed upward (r13 proportional probe): bounds the
# per-doc explode at 1+CAP rows.  Full recall is guaranteed while the
# size-ratio bound fits under the cap — nw*(1/t-1)/W <= CAP, i.e. docs
# up to ~149 distinct words at t=0.7/W=2; for longer docs the
# HIGHEST-ratio tail degrades first (a 1000-word doc keeps full recall
# to +6.4% growth; the 30%-growth extreme falls to the minhash tier).
JACCARD_PROBE_CAP = 32
# The probe arithmetic hard-codes 1/t as the exact rational 10/7 so
# both engines compute bucket reach in INTEGER ops (a float ceil could
# disagree across engines at representation boundaries) — keep in sync.
# An explicit raise, not an assert: `python -O` strips asserts and this
# cross-engine invariant must hold in optimized runs too (r13 ADVICE).
if abs(JACCARD_THRESHOLD - 0.7) >= 1e-12:
    raise ValueError(
        "JACCARD_THRESHOLD drifted from 0.7 — update the hard-coded 10/7 "
        "probe ratio in ngram_jaccard_pairs AND its DuckDB oracle"
    )


def _jaccard_blocked_docs(docs: DataFrame, fan: bool = False) -> DataFrame:
    """(doc_id, lang, wset, nw, len_bucket) — the jaccard tier's
    blocking view of the corpus, shared by the pairs operator and
    ``dedup_coverage``.  Word sets are hashed to BIGINTs once per doc
    (md5 prefix, same formula both engines): the per-pair
    array_intersect then compares 8-byte longs instead of
    variable-length strings — cheaper hash-set probes and a ~4x
    narrower join payload.  A 32-bit collision inside one doc would
    shrink its distinct set identically in both engines (same hash),
    so the compare stays exact."""
    word_hashes = F.array_distinct(
        F.transform(
            _words(F.col("text")),
            lambda w: F.conv(F.substring(F.md5(w.cast("binary")), 1, 8), 16, 10).cast("bigint"),
        )
    )
    w = JACCARD_BUCKET_W
    # fan=True fans out BEFORE the per-word md5 hashing and the
    # downstream within-block self-join: the single-row-group scan
    # would otherwise run both on 1-2 cores (r14-opt stage profile: the
    # pack's pair stage read 6.5 s on 2 tasks with 30 cores idle;
    # A/B 0.46x).  Opt-in per consumer: dedup_coverage's cheap count
    # aggregations LOST 1.60x paying the same exchange (r14-opt A/B),
    # so only the pair-join path requests it.
    if fan:
        docs = fan_out(docs)
    return (
        docs.select("doc_id", "lang", word_hashes.alias("wset"))
        .withColumn("nw", F.size("wset"))
        .withColumn("len_bucket", F.expr(f"CAST(nw DIV {w} AS BIGINT)"))
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact jaccard over distinct word sets.

    Blocking key = (lang, nw // JACCARD_BUCKET_W) over the DISTINCT
    word-set size nw — the variable the jaccard size-ratio bound
    actually constrains (r13; the previous n_chars//100 blocking had
    no provable relation to word-set jaccard at all).  Blocks larger
    than JACCARD_BLOCK_CAP are dropped (the same skew guard as
    minhash's HOT_BUCKET_CAP / simhash's SIMHASH_BLOCK_CAP, mirrored
    in the oracle): at 100 TB an `en` length bucket holds millions of
    docs and an uncapped within-block self-join is quadratic death.
    Documents landing in oversized blocks are the minhash/simhash
    paths' job — this operator is the exact-verification tier.

    Output order is unspecified: a trailing global orderBy here
    MEASURABLY DOUBLED execution (8.2s → 4.0s at sf0.1 without it) —
    range-partition boundary sampling re-executes the whole upstream,
    and this pipeline's expensive part is a broadcast self-join with no
    shuffle boundary to reuse.  The driver's correctness compare is
    order-insensitive, so the sort bought nothing."""
    w = JACCARD_BUCKET_W
    docs = _jaccard_blocked_docs(load_table(spark, sf_dir, "documents"), fan=True)
    block_sizes = docs.groupBy("lang", "len_bucket").agg(F.count(F.lit(1)).alias("bn"))
    docs = docs.join(
        block_sizes.where(F.col("bn") <= JACCARD_BLOCK_CAP), ["lang", "len_bucket"]
    ).drop("bn")
    # PROPORTIONAL upward probe (r13, closing ADVICE r11's residual
    # recall gap): jaccard >= t forces the partner's word-set size into
    # [t*nw, nw/t], so a doc must probe every bucket up to
    # bucket(floor(nw/t)) — computed in exact INTEGER arithmetic
    # ((nw*10) DIV 7, mirrored in the oracle) and capped at
    # JACCARD_PROBE_CAP (see the constant's recall note).  The r11
    # fixed +1 probe provably missed long-doc pairs straddling more
    # than one boundary (tests/test_jaccard_recall.py pins the crafted
    # case); the probe stays an EQUI-join key, so the plan remains a
    # broadcast hash join, and a cross-bucket pair is still discovered
    # exactly once via the lower doc's probe copy, a same-bucket pair
    # once via the id order.
    reach = F.least(
        F.lit(JACCARD_PROBE_CAP),
        F.expr(f"((nw * 10) DIV 7) DIV {w} - nw DIV {w}"),
    )
    a = docs.withColumn(
        "probe_bucket",
        F.explode(
            F.sequence(F.col("len_bucket"), F.col("len_bucket") + reach)
        ),
    ).alias("a")
    b = docs.alias("b")
    # size-ratio prefilter (provably lossless): jaccard >= t implies
    # |A∩B| >= t·|A∪B|, and |A∩B| <= min(|A|,|B|), |A∪B| >= max(|A|,|B|)
    # — so min/max set sizes must already satisfy the threshold.  The
    # check is two ints per pair, evaluated INSIDE the join condition,
    # so the expensive per-pair array_intersect (O(|A|+|B|) hash-set
    # build) runs only on surviving candidates.
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.probe_bucket") == F.col("b.len_bucket"))
        & (
            (
                (F.col("a.len_bucket") == F.col("b.len_bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
            )
            | (F.col("a.len_bucket") < F.col("b.len_bucket"))
        )
        & (
            F.least("a.nw", "b.nw").cast("double")
            >= F.lit(JACCARD_THRESHOLD) * F.greatest("a.nw", "b.nw")
        ),
    )
    na = F.col("a.nw")
    nb = F.col("b.nw")
    ni = F.size(F.array_intersect("a.wset", "b.wset"))
    jac = ni.cast("double") / (na + nb - ni).cast("double")
    return pairs.select(
        F.least("a.doc_id", "b.doc_id").alias("doc_a"),
        F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        jac.alias("jaccard"),
    ).where(F.col("jaccard") >= JACCARD_THRESHOLD)


NGRAM_JACCARD_SQL = f"""
WITH d_all AS MATERIALIZED (
  SELECT doc_id, lang, wset, CAST(len(wset) AS INTEGER) AS nw,
         CAST(len(wset) // {JACCARD_BUCKET_W} AS BIGINT) AS len_bucket
  FROM (
    SELECT doc_id, lang,
           list_distinct(list_transform(string_split(text, ' '),
                                        w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT))) AS wset
    FROM documents
  )
),
kept_blocks AS MATERIALIZED (
  SELECT lang, len_bucket FROM d_all
  GROUP BY lang, len_bucket HAVING count(*) <= {JACCARD_BLOCK_CAP}
),
d AS MATERIALIZED (
  SELECT d_all.* FROM d_all JOIN kept_blocks USING (lang, len_bucket)
)
SELECT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b,
       CAST(a.nw + b.nw - len(list_distinct(list_concat(a.wset, b.wset))) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(a.wset, b.wset))) AS DOUBLE) AS jaccard
FROM d a JOIN d b
  ON a.lang = b.lang
 AND b.len_bucket BETWEEN a.len_bucket
     AND a.len_bucket + least({JACCARD_PROBE_CAP},
                              ((a.nw * 10) // 7) // {JACCARD_BUCKET_W}
                               - a.nw // {JACCARD_BUCKET_W})
 AND ((a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id)
      OR a.len_bucket < b.len_bucket)
 AND CAST(least(a.nw, b.nw) AS DOUBLE)
     >= {JACCARD_THRESHOLD} * greatest(a.nw, b.nw)
WHERE CAST(a.nw + b.nw - len(list_distinct(list_concat(a.wset, b.wset))) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.wset, b.wset))) AS DOUBLE) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# double-hashing modulus (Kirsch–Mitzenmacher): the K permutations are
# h_k = (h1 + k*h2) mod P derived from TWO md5s instead of K salted
# md5s — h1,h2 < 2^32 and k < K so h1 + k*h2 < 2^36, no BIGINT overflow
# in either engine (DuckDB errors on overflow rather than wrapping).
MINHASH_P = 1_000_000_007


def _mh(prefix: str):
    """BIGINT hash of the word column under a salt prefix (md5 first 8
    hex chars — the double-hashing inputs, same formula both engines)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(prefix), F.col("w")).cast("binary")), 1, 8), 16, 10
    ).cast("bigint")


def _minhash_aggs() -> list:
    """The K min-aggregates over (h1, h2) columns — shared by
    minhash_signatures and dedup_coverage's fused per-doc aggregate."""
    return [
        F.min((F.col("h1") + F.lit(k) * F.col("h2")) % MINHASH_P).alias(f"mh{k}")
        for k in range(MINHASH_K)
    ]


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id → K minhash values (min of a pseudorandom word order per
    permutation is a valid minhash).

    Two measured scale decisions:
    - BIGINT values, not strings: min over a fixed-width primitive
      HASH-aggregates with map-side combine, where min(string) forces
      SortAggregate — 0.9s → 0.46s at sf0.1, and the shuffle payload
      is 16 longs instead of 16 strings.
    - K=16 permutations from TWO md5 digests via double hashing
      (h1 + k*h2 mod P, Kirsch–Mitzenmacher 2006 shows pairwise-ish
      independence suffices for sketching): the explode side computes
      2 md5s per word occurrence instead of 16 — the r4→r5 fix for the
      signature-generation drift (VERDICT r5 #3).  Statistically still
      a minwise family; the oracle mirrors the identical formula."""
    exploded = docs.select(
        "doc_id", F.explode(F.array_distinct(_words(F.col("text")))).alias("w")
    )
    hashed = exploded.select("doc_id", _mh("a:").alias("h1"), _mh("b:").alias("h2"))
    return hashed.groupBy("doc_id").agg(*_minhash_aggs())


def minhash_banded(docs: DataFrame) -> DataFrame:
    """Pre-cap band rows (doc_id, band_id, band_key) — MINHASH_BANDS
    rows per doc.  ONE pass over the signatures: each band row comes
    from an explode of B (band_id, band_key) structs instead of B
    unioned re-selects — the union form analyzed as 4 copies of the
    whole signature subtree (exchange reuse collapses the shuffles but
    each copy still re-runs its final aggregate), the explode is
    computed once.  Exposed pre-cap (r14) so ``dedup_coverage`` can
    count what the cap drops."""
    return _band_rows(minhash_signatures(docs))


def _band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) band rows from any frame carrying
    the mh0..mhK-1 signature columns — shared by minhash_banded and
    dedup_coverage's fused per-doc aggregate."""
    band_structs = [
        F.struct(
            F.lit(b).cast("int").alias("band_id"),
            F.concat_ws(
                "|", *[f"mh{b * MINHASH_R + r}" for r in range(MINHASH_R)]
            ).alias("band_key"),
        )
        for b in range(MINHASH_BANDS)
    ]
    return sigs.select("doc_id", F.explode(F.array(*band_structs)).alias("bb")).select(
        "doc_id", "bb.band_id", "bb.band_key"
    )


def minhash_banded_kept(docs: DataFrame) -> DataFrame:
    """Band rows surviving the HOT_BUCKET_CAP skew guard.  The cap is a
    count window over the SAME (band_id, band_key) partitioning the
    candidate self-join needs — one shuffle serves the cap and both
    join sides (the old groupBy+join form added an extra aggregate
    shuffle and a second full pass over banded)."""
    wb = Window.partitionBy("band_id", "band_key")
    return (
        minhash_banded(docs)
        .withColumn("bn", F.count(F.lit(1)).over(wb))
        .where(F.col("bn") <= HOT_BUCKET_CAP)
        .drop("bn")
    )


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, jaccard-verified.

    Scale path: signatures are a linear pass; candidate generation is a
    self-join on (band_id, band_key) *within* buckets; buckets larger
    than HOT_BUCKET_CAP are dropped (documented skew guard, both
    engines); only candidates get the exact jaccard verification."""
    docs = load_table(spark, sf_dir, "documents")
    return _minhash_pairs_from_banded(minhash_banded_kept(docs), docs)


def _minhash_pairs_from_banded(banded: DataFrame, docs: DataFrame) -> DataFrame:
    """Candidate self-join + exact jaccard verification over a
    (cap-filtered) band-row DataFrame — split out (r14) so the curation
    funnel can reuse ONE checkpointed ``minhash_banded_kept`` for both
    pair generation and its bypass telemetry."""
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    wsets = docs.select("doc_id", F.array_distinct(_words(F.col("text"))).alias("wset"))
    cand = (
        cand.join(wsets.select(F.col("doc_id").alias("doc_a"), F.col("wset").alias("wa")), "doc_a")
        .join(wsets.select(F.col("doc_id").alias("doc_b"), F.col("wset").alias("wb")), "doc_b")
    )
    na, nb = F.size("wa"), F.size("wb")
    nu = F.size(F.array_distinct(F.concat("wa", "wb")))
    jac = (na + nb - nu).cast("double") / nu.cast("double")
    return (
        cand.select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _duck_minhash_prefix() -> str:
    """Oracle CTEs up to the pre-cap band rows (``sigs`` +
    ``banded_all``) — shared by the pairs chain and the r14
    ``dedup_coverage`` telemetry oracle."""
    mh_cols = ", ".join(
        f"min((h1 + {k} * h2) % {MINHASH_P}) AS mh{k}" for k in range(MINHASH_K)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, {key} AS band_key FROM sigs".format(
            b=b,
            key=" || '|' || ".join(f"mh{b * MINHASH_R + r}" for r in range(MINHASH_R)),
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
sigs AS MATERIALIZED (
  SELECT doc_id, {mh_cols}
  FROM (
    SELECT doc_id,
           CAST('0x' || substr(md5('a:' || w), 1, 8) AS BIGINT) AS h1,
           CAST('0x' || substr(md5('b:' || w), 1, 8) AS BIGINT) AS h2
    FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM documents)
  )
  GROUP BY doc_id
),
banded_all AS MATERIALIZED ({band_selects})"""


def _duck_minhash_ctes() -> str:
    """Shared oracle CTE chain ending in near-dup ``pairs``
    (doc_a, doc_b, jaccard) — reused by both the pairs query and the
    connected-components clustering oracle."""
    return _duck_minhash_prefix() + f""",
sized AS (
  SELECT band_id, band_key FROM banded_all
  GROUP BY band_id, band_key HAVING count(*) <= {HOT_BUCKET_CAP}
),
banded AS MATERIALIZED (
  SELECT b.* FROM banded_all b JOIN sized s USING (band_id, band_key)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
wsets AS MATERIALIZED (SELECT doc_id, list_distinct(string_split(text, ' ')) AS wset FROM documents),
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b,
         CAST(len(wa.wset) + len(wb.wset) - len(list_distinct(list_concat(wa.wset, wb.wset))) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(wa.wset, wb.wset))) AS DOUBLE) AS jaccard
  FROM cand
  JOIN wsets wa ON wa.doc_id = doc_a
  JOIN wsets wb ON wb.doc_id = doc_b
  WHERE CAST(len(wa.wset) + len(wb.wset) - len(list_distinct(list_concat(wa.wset, wb.wset))) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(wa.wset, wb.wset))) AS DOUBLE) >= {JACCARD_THRESHOLD}
)"""


def _duck_minhash_sql() -> str:
    return (
        "WITH "
        + _duck_minhash_ctes()
        + "\nSELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b"
    )


def dedup_basic_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_exact`` + ``dedup_fingerprint`` under one harmonized
    schema (r6 fold — frees one registry slot inside the driver's
    50-query window; both arms unchanged and individually tested).
    The exact arm has no fingerprint column, so it carries NULL."""
    ex = dedup_exact(spark, sf_dir).select(
        F.lit("exact").alias("arm"),
        F.lit(None).cast("string").alias("fingerprint"),
        "keeper_id",
        "n_copies",
    )
    fp = dedup_fingerprint(spark, sf_dir).select(
        F.lit("fingerprint").alias("arm"), "fingerprint", "keeper_id", "n_copies"
    )
    return ex.unionByName(fp)


DEDUP_BASIC_PACK_SQL = f"""
SELECT 'exact' AS arm, CAST(NULL AS VARCHAR) AS fingerprint, keeper_id, n_copies
FROM ({DEDUP_EXACT_SQL.strip().rstrip(';')})
UNION ALL
SELECT 'fingerprint' AS arm, fingerprint, keeper_id, n_copies
FROM ({DEDUP_FINGERPRINT_SQL.strip().rstrip(';')})
ORDER BY arm, keeper_id
"""


QUERIES: dict[str, tuple] = {
    "dedup_basic_pack": (dedup_basic_pack, DEDUP_BASIC_PACK_SQL),
    "dedup_minhash_pairs": (dedup_minhash_pairs, _duck_minhash_sql()),
}


# ---------------------------------------------------------------------------
# SimHash (bit-majority fingerprint) + hamming near-dup pairs
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64  # r11: standard width (was a 16-bit toy — see pairs docstring)
HAMMING_MAX = 3
SIMHASH_BANDS = 4  # bands > HAMMING_MAX: pigeonhole guarantees a clean band
_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS

# the two charsets selecting bit 3 (value>=8) resp. bit 2 (value&4) of a
# hex character — two pseudorandom bits per md5 hex char gives the 64
# bits from ONE digest (32 chars x 2)
_HEX_BIT0 = tuple("89abcdef")
_HEX_BIT1 = tuple("4567cdef")


def _simhash_bit_exprs():
    """Per-bit contribution from ONE md5 per word (r5 — was one salted
    md5 PER BIT): bit b comes from hex char b//2 of the digest — its
    high bit for even b, its second bit for odd b (each hex char is 4
    independent pseudorandom bits; two per char yield all 64 bits from
    one 32-char digest).  Set -> +1, clear -> -1 — unbiased, identical
    in both engines.  The md5 is one subexpression, CSE'd across all
    64 sums (see the keys.py nullability-contract gotcha for why
    branchy per-bit variants were rejected)."""
    return [
        F.sum(
            F.when(
                F.substring(F.col("h"), b // 2 + 1, 1).isin(
                    *(_HEX_BIT0 if b % 2 == 0 else _HEX_BIT1)
                ),
                1,
            ).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]


def band_mask(k: int) -> int:
    """Signed-BIGINT bit mask of band k (16 bits at offset 16k).  Bands
    are compared as MASKED values — no shifts, so Spark's arithmetic
    shiftright vs DuckDB's division semantics on negative fingerprints
    can never diverge (both engines' ``&`` on two's-complement BIGINTs
    is bit-identical, probed in r11)."""
    m = (((1 << _BAND_BITS) - 1) << (_BAND_BITS * k)) & ((1 << 64) - 1)
    return m - (1 << 64) if m >= (1 << 63) else m


def _simhash_sums(
    spark: SparkSession, sf_dir: str, base: DataFrame | None = None
) -> DataFrame:
    # fan_out (r14-opt, guide §2.5): the single-row-group documents
    # scan ran the whole explode+md5+partial-agg as ONE task (stage
    # profile: 1.35 s single-threaded of simhash's ~3 s exec); the
    # round-robin fan-out spreads the per-word hashing before the
    # group-by's own exchange.  Scoped to the table-scan path — a
    # caller-supplied base (dedup_coverage's per-stage form) keeps its
    # own partitioning.
    docs = fan_out(load_table(spark, sf_dir, "documents")) if base is None else base
    exploded = docs.select(
        "doc_id", F.explode(F.array_distinct(_words(F.col("text")))).alias("w")
    ).select("doc_id", F.md5(F.col("w").cast("binary")).alias("h"))
    return exploded.groupBy("doc_id").agg(*_simhash_bit_exprs())


def simhash_fingerprint_ints(
    spark: SparkSession, sf_dir: str, base: DataFrame | None = None
) -> DataFrame:
    """doc_id -> simhash as ONE 64-bit BIGINT (bit b of the value =
    majority sign of bit b, MSB first; the MSB term is the two's-
    complement -2^63 so the full width fits a signed BIGINT — XOR /
    bit_count / & are bit-identical on signed values in both engines).
    The integer form is the scale representation: the candidate join
    ships 8 bytes, banding is a mask, and hamming distance is
    ``bit_count(a XOR b)`` (r5; both engines share the exact
    arithmetic).  ``base`` (r14, the lm_score pattern): fingerprint a
    caller-supplied (doc_id, text) frame instead of the documents
    table — dedup_coverage's per-stage form rides through here."""
    sums = _simhash_sums(spark, sf_dir, base=base)
    # no orderBy: feeds simhash_dup_pairs MID-pipeline
    return sums.select("doc_id", _sh_expr().alias("sh"))


def _sh_expr():
    """The signed-BIGINT fingerprint column from s0..s63 bit-majority
    sums — shared by simhash_fingerprint_ints and dedup_coverage's
    fused per-doc aggregate."""
    sh = None
    for b in range(SIMHASH_BITS):
        weight = -(1 << 63) if b == 0 else (1 << (SIMHASH_BITS - 1 - b))
        term = F.when(F.col(f"s{b}") >= 0, F.lit(weight).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sh = term if sh is None else sh + term
    return sh.cast("bigint")


def _duck_simhash_cte() -> str:
    def charset(b):
        return ",".join(f"'{c}'" for c in (_HEX_BIT0 if b % 2 == 0 else _HEX_BIT1))

    sums = ", ".join(
        f"sum(CASE WHEN substr(h, {b // 2 + 1}, 1) IN ({charset(b)})"
        f" THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    sh = " + ".join(
        f"CASE WHEN s{b} >= 0 THEN "
        + (f"({-(1 << 63)})::BIGINT" if b == 0 else str(1 << (SIMHASH_BITS - 1 - b)))
        + " ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
sums AS (
  SELECT doc_id, {sums}
  FROM (SELECT doc_id, md5(unnest(list_distinct(string_split(text, ' ')))) AS h FROM documents)
  GROUP BY doc_id
),
fps_int AS (SELECT doc_id, CAST({sh} AS BIGINT) AS sh FROM sums)
"""


SIMHASH_BLOCK_CAP = 100  # skew guard: drop blocks larger than this


def _simhash_banded(fps: DataFrame) -> DataFrame:
    """Pre-cap simhash band rows (doc_id, sh, band, bval) —
    SIMHASH_BANDS rows per doc, band keys as MASKED values (see
    band_mask).  Shared by the pairs query and ``dedup_coverage``."""
    return fps.select(
        "doc_id",
        "sh",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.col("sh").bitwiseAND(F.lit(band_mask(k))).alias("bval"),
                    )
                    for k in range(SIMHASH_BANDS)
                ]
            )
        ),
    )


def simhash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by simhash hamming distance <= HAMMING_MAX, via
    BANDED LSH with a recall GUARANTEE (r11 review; the r5-r10 form was
    a 16-bit fingerprint blocked on its top byte, which both made the
    fingerprint a toy — random 16-bit collisions dominate any real
    corpus — and silently missed every qualifying pair whose differing
    bits touched the block byte, while the oracle mirrored the gap so
    the hash gate stayed green):

    - 64-bit simhash (the standard width; random hamming<=3 collisions
      are ~2^-50 per pair instead of ~1% at 16 bits);
    - SIMHASH_BANDS=4 disjoint 16-bit bands as candidate keys.  A pair
      with hamming <= HAMMING_MAX=3 has at most 3 differing bits spread
      over 4 bands, so BY PIGEONHOLE at least one band matches exactly
      — full recall among cap-kept docs, not best-effort blocking
      (pinned by test_simhash_banding_complete_vs_bruteforce).
    - pairs sharing several clean bands are deduped before the hamming
      check (dropDuplicates on the pair key);
    - per-(band, value) blocks larger than SIMHASH_BLOCK_CAP are
      dropped — the skew guard: a giant exact-duplicate cluster shares
      ALL bands and would go quadratic; its members are the exact-dedup
      path's job (same rationale as the jaccard block cap).

    Everything runs on the INTEGER fingerprint: band keys are masked
    values (no shifts — engine-identical on signed BIGINTs), hamming =
    bit_count(sh_a XOR sh_b), the join payload is 8 bytes per side."""
    fps = simhash_fingerprint_ints(spark, sf_dir)
    banded = _simhash_banded(fps)
    wb = Window.partitionBy("band", "bval")
    banded = (
        banded.withColumn("bn", F.count(F.lit(1)).over(wb))
        .where(F.col("bn") <= SIMHASH_BLOCK_CAP)
        .drop("bn")
    )
    a = banded.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("ha"), "band", "bval")
    b = banded.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("hb"), "band", "bval")
    cand = (
        a.join(b, ["band", "bval"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    # no trailing orderBy (order-insensitive driver compare; see
    # ngram_jaccard_pairs for the sampling double-execution measurement)
    return cand.select("doc_a", "doc_b", hamming.cast("int").alias("hamming")).where(
        F.col("hamming") <= HAMMING_MAX
    )


def _duck_simhash_pairs_sql() -> str:
    # band keys as masked values — the same signed-BIGINT arithmetic as
    # the Spark side (band_mask); recall guarantee and cap semantics in
    # simhash_dup_pairs' docstring
    unions = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, sh, {k} AS band,"
        f" sh & CAST({band_mask(k)} AS BIGINT) AS bval FROM fps_int"
        for k in range(SIMHASH_BANDS)
    )
    return (
        "WITH "
        + _duck_simhash_cte()
        + f""",
banded AS MATERIALIZED (
{unions}
),
kept AS MATERIALIZED (
  SELECT b.* FROM banded b
  JOIN (SELECT band, bval FROM banded GROUP BY band, bval
        HAVING count(*) <= {SIMHASH_BLOCK_CAP}) s USING (band, bval)
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS ha, b.sh AS hb
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= {HAMMING_MAX}
ORDER BY doc_a, doc_b
"""
    )


# The fingerprints have no query of their own: simhash_dup_pairs runs
# the derivation (simhash_fingerprint_ints) end-to-end and its oracle
# embeds _duck_simhash_cte.
QUERIES.update({"simhash_dup_pairs": (simhash_dup_pairs, _duck_simhash_pairs_sql())})


# ---------------------------------------------------------------------------
# Connected-components clustering over the near-dup pair graph
# ---------------------------------------------------------------------------

CC_MAX_ITERS = 20  # safety cap; pointer jumping converges in O(log diameter)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the
    minhash-LSH dup-pair graph, with the canonical-survivor flag — the
    step a real dedup pipeline runs after pair generation ("keep one
    doc per duplicate cluster").

    Pregel-style min-label propagation WITH pointer jumping: each round
    takes ``label(v) <- min(label(v), min label over neighbors,
    label(label(v)))``.  The neighbor term moves a component's min id
    one hop; the pointer-jump term (label-of-label, the shortcutting
    device from Shiloach-Vishkin / the large-star-small-star family,
    Kiveris et al. SoCC'14) doubles the already-covered distance — so
    rounds needed drop from O(diameter) to O(log diameter).  Measured
    at sf0.01: 7 rounds plain -> 4 with jumping; at sf0.1 the chain
    components converge in 9 jumped rounds.  At 100 TB every round is
    a full shuffle, so the log bound is the difference between ~9 and
    ~300 shuffles on a chain-shaped component.  A SECOND jump per
    materialized round was measured and REJECTED (r6): without an
    intervening checkpoint the self-join references the round's plan
    twice, so the neighbor join recomputes 4x per round — 2.0s/round
    vs 0.4 (branch duplication, the same reason each round
    checkpoints).

    Convergence check = ``sum(label)``: labels only ever decrease, so
    the sum strictly decreases until fixpoint — one cheap aggregate
    action per round instead of a join-diff.

    Docs in no dup pair are implicitly their own singleton cluster and
    are not emitted (at 100 TB, re-emitting the whole corpus as
    singletons is pure wasted I/O — consumers anti-join the survivors'
    complement instead).
    """
    # Materialize the pair generation ONCE before fanning out the two
    # edge directions: the union references pair_df twice, and without
    # the checkpoint each branch re-executes the whole minhash pipeline
    # (measured: ~2.8s of the build was the second execution, r6).
    pair_df = (
        local_ckpt(dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b"))
    )
    edges = (
        pair_df.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pair_df.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .persist()
    )
    # Size the iteration's partitioning from the MEASURED edge count
    # (r6): the dup graph is orders of magnitude smaller than the
    # corpus (7.5k edges at sf0.1), but every round's shuffles default
    # to spark.sql.shuffle.partitions — dozens of near-empty tasks
    # whose fixed scheduling cost dominated the build (9.1s -> 5.6s at
    # sf0.1).  coalesce() is a narrow collapse of post-shuffle
    # partitions (no extra stage), and p grows linearly with the edge
    # count (~2M edges / ~100 MB per partition), so a 100 TB dup graph
    # still fans out across the cluster — this is "size the shuffle to
    # the data", not "run it on one core".  (AQE would do the same with
    # coalescePartitions.parallelismFirst=false, but that knob is
    # session-global; the count is needed anyway and keeps the choice
    # deterministic and local to this operator.)
    try:
        return _cc_iterate(edges)
    finally:
        # r11 review: any exception inside the rounds (transient job
        # failure, interrupt) previously leaked the cached edges for the
        # session lifetime; labels are localCheckpointed, so releasing
        # the edge cache here never recomputes upstream
        edges.unpersist()


def _cc_iterate(edges: DataFrame) -> DataFrame:
    n_edges = edges.count()
    p = max(1, n_edges // 2_000_000)
    edges_c = edges.coalesce(p)  # no-op when p exceeds the current count
    # Each round references the previous labels TWICE (own label union
    # propagated labels), so without lineage truncation the logical plan
    # doubles per round and analysis OOMs the driver — localCheckpoint
    # (eager) pins the round's result and resets the plan, the standard
    # device for iterative DataFrame algorithms.
    #
    # Seeding with min(self, min neighbor) — one aggregation over the
    # edges, same shuffle the old distinct() paid — folds the first
    # neighbor-propagation round into the seed (r6; one round saved on
    # every graph).
    # The convergence sum rides the SAME job as the checkpoint
    # materialization via observe() (r6) — a separate .agg() action per
    # round was a second full job, ~0.15s of pure scheduling overhead
    # each (the state is tiny; the job launch IS the cost).
    from pyspark.sql import Observation

    obs = Observation()
    labels = local_ckpt(
        edges_c.groupBy(F.col("src").alias("doc_id"))
        .agg(F.least(F.min("dst"), F.col("src")).alias("label"))
        .coalesce(p)
        .observe(obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s"))
    )
    prev_sum = obs.get["s"]
    converged = False
    for _ in range(CC_MAX_ITERS):
        nbr = edges_c.join(
            labels.select(F.col("doc_id").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("doc_id"), "label")
        jump = labels.join(
            labels.select(F.col("doc_id").alias("label"), F.col("label").alias("label2")),
            "label",
        ).select("doc_id", F.col("label2").alias("label"))
        obs = Observation()
        labels = local_ckpt(
            labels.unionByName(nbr)
            .unionByName(jump)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
            .coalesce(p)
            .observe(obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s"))
        )
        new_sum = obs.get["s"]
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # With pointer jumping CC_MAX_ITERS=20 rounds covers diameter
        # ~2^20, so this should never fire — but exiting the loop without
        # reaching the sum fixpoint means the labels are NOT component
        # minima, and returning them silently would be wrong-answer.
        raise RuntimeError(
            f"dedup_clusters: label propagation did not converge within "
            f"{CC_MAX_ITERS} pointer-jumping rounds (pathological graph?); "
            "labels would be partial — refusing to return them"
        )
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    out = (
        labels.join(sizes, "label")
        .select(
            "doc_id",
            F.col("label").alias("cluster_id"),
            "cluster_size",
            (F.col("doc_id") == F.col("label")).cast("int").alias("is_canonical"),
        )
    )
    return out


def _duck_clusters_sql() -> str:
    """Oracle: min-reachable-id per node via a recursive CTE over the
    SAME pairs CTE chain the minhash oracle uses (UNION dedups the
    reach set, so the recursion terminates)."""
    return (
        "WITH RECURSIVE "
        + _duck_minhash_ctes()
        + f""",
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS v FROM edges),
reach(v, r) AS (
  SELECT v, v FROM nodes
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.v
),
lab AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)
SELECT lab.doc_id, lab.cluster_id, sz.cluster_size,
       CAST(lab.doc_id = lab.cluster_id AS INT) AS is_canonical
FROM lab JOIN sz USING (cluster_id)
ORDER BY doc_id
"""
    )


# ---------------------------------------------------------------------------
# dup_pairs_pack: the two non-headline pair generators in one
# CORRECTNESS row (each arm = the unchanged original operator; see
# COVERAGE.md for the arm -> pack map)
# ---------------------------------------------------------------------------


def dup_pairs_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11 pair-generator pack: blocked exact n-gram jaccard pairs
    (documents) + LSH-bucketed embedding-cosine dup pairs (embeddings),
    union-harmonized onto (kind, id_a, id_b, score).  The emb arm runs
    at the corpus-calibrated SEM_COS_TAU — at the semantic 0.9 default
    it produced ZERO pairs on the synthetic random embeddings, i.e. a
    vacuously-green arm (r6 degeneracy audit)."""
    from .similarity import SEM_COS_TAU, embedding_dup_pairs

    jac = ngram_jaccard_pairs(spark, sf_dir).select(
        F.lit("jaccard").alias("kind"),
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.col("jaccard").alias("score"),
    )
    emb = embedding_dup_pairs(spark, sf_dir, threshold=SEM_COS_TAU).select(
        F.lit("emb_cos").alias("kind"),
        F.col("vec_a").alias("id_a"),
        F.col("vec_b").alias("id_b"),
        F.col("cos").alias("score"),
    )
    # no trailing orderBy: the sort's range-boundary sampling would run
    # BOTH arms twice (see ngram_jaccard_pairs docstring); the driver
    # compare is order-insensitive
    return jac.unionByName(emb)


def _dup_pairs_pack_sql() -> str:
    from .similarity import SEM_COS_TAU, embedding_dup_sql

    EMBEDDING_DUP_SQL = embedding_dup_sql(SEM_COS_TAU)

    return f"""
SELECT 'jaccard' AS kind, doc_a AS id_a, doc_b AS id_b, jaccard AS score
FROM ({NGRAM_JACCARD_SQL.strip().rstrip(';')})
UNION ALL
SELECT 'emb_cos' AS kind, vec_a AS id_a, vec_b AS id_b, cos AS score
FROM ({EMBEDDING_DUP_SQL.strip().rstrip(';')})
ORDER BY kind, id_a, id_b
"""


QUERIES.update({"dedup_clusters": (dedup_clusters, _duck_clusters_sql())})
QUERIES.update({"dup_pairs_pack": (dup_pairs_pack, _dup_pairs_pack_sql())})


# ---------------------------------------------------------------------------
# dedup_coverage: runtime cap/drop telemetry (r13 verdict #1 — the
# no-silent-caps principle's runtime half)
# ---------------------------------------------------------------------------


def dedup_coverage(
    spark: SparkSession, sf_dir: str, base: DataFrame | None = None
) -> DataFrame:
    """Cap/drop TELEMETRY for the near-dedup stack: one row per blocked
    tier (jaccard / minhash / simhash / emb_cos) stating exactly what
    its skew caps dropped or deferred on this corpus.  Every pair
    generator bounds its work (JACCARD_BLOCK_CAP / JACCARD_PROBE_CAP /
    HOT_BUCKET_CAP / SIMHASH_BLOCK_CAP / EMB_BUCKET_CAP) and the caps
    are documented and oracle-mirrored
    — but at 100 TB an operator additionally needs to SEE what fraction
    of the corpus bypassed each exact tier, or a silently-hot corpus
    reads as "fully deduped" when a third of it was never compared.
    (The reference logs per-import metrics for the same reason:
    src/lens/import_clinical_data.clj:316-327.)

    Columns, per tier:

    - blocks_total / blocks_dropped — blocking-key groups, and how many
      exceeded the tier's cap (their members generate no pairs in this
      tier).
    - units_total / units_dropped — doc-block memberships (jaccard: one
      per doc; minhash/simhash: one per doc per band) and how many sat
      in dropped blocks.
    - docs_deferred — docs the tier CANNOT see at all: jaccard/emb_cos
      = docs/vectors in a dropped block (one block per unit); minhash/
      simhash = docs ALL of whose band rows were dropped (one surviving
      band keeps partial recall — the banded pigeonhole argument needs
      just one clean band).  These are the docs a pipeline must route
      to the next-coarser tier (or report as un-deduped).  The emb_cos
      tier counts VALID vectors only — degenerate/ragged rows are a
      validity exclusion upstream of the cap (similarity._valid_vecs),
      not a cap drop.
    - docs_probe_truncated — jaccard only: cap-kept docs whose
      proportional probe reach was clipped at JACCARD_PROBE_CAP (full
      recall only up to growth the cap covers; NULL for the banded
      tiers, whose recall within kept blocks is exact by pigeonhole).

    Aggregation-only (no pair join): the cost is the same linear
    signature/banding passes the tiers themselves pay, so the
    telemetry is safe to run at any scale the tiers run at.

    ``base`` (r14, the lm_score pattern): a (doc_id, text, lang) frame
    to measure INSTEAD of the documents table, so a pipeline stage
    (e.g. the funnel's near-dedup input) can report the cap coverage
    of its own surviving corpus rather than the corpus-level numbers.
    Scope: the three TEXT tiers follow ``base``; the emb_cos tier
    always measures the embeddings table — vectors key on vec_id, not
    doc_id, so there is no doc-subset of them to measure (documented
    asymmetry; pass/ignore as the stage needs).  The default (None)
    keeps the registered gate query byte-identical."""
    docs = base if base is not None else load_table(spark, sf_dir, "documents")
    w = JACCARD_BUCKET_W

    # --- jaccard tier: (lang, nw DIV w) blocks, JACCARD_BLOCK_CAP ---
    # checkpointed: jd feeds both the block-size aggregate and the
    # probe-truncation count — without it each branch re-runs the
    # word-hash tokenization over documents (4 ints/doc once pinned)
    jd = local_ckpt(
        _jaccard_blocked_docs(docs).select("doc_id", "lang", "nw", "len_bucket")
    )
    jb = jd.groupBy("lang", "len_bucket").agg(F.count(F.lit(1)).alias("bn"))

    def _block_stats(sizes: DataFrame, cap: int):
        return sizes.agg(
            F.count(F.lit(1)).cast("bigint").alias("blocks_total"),
            F.sum((F.col("bn") > cap).cast("bigint")).alias("blocks_dropped"),
            F.sum("bn").cast("bigint").alias("units_total"),
            F.sum(F.when(F.col("bn") > cap, F.col("bn")).otherwise(0))
            .cast("bigint").alias("units_dropped"),
        )

    reach_raw = F.expr(f"((nw * 10) DIV 7) DIV {w} - nw DIV {w}")
    jtrunc = (
        jd.join(jb.where(F.col("bn") <= JACCARD_BLOCK_CAP), ["lang", "len_bucket"])
        .where(reach_raw > JACCARD_PROBE_CAP)
        .agg(F.count(F.lit(1)).cast("bigint").alias("docs_probe_truncated"))
    )
    jrow = _block_stats(jb, JACCARD_BLOCK_CAP).crossJoin(jtrunc).select(
        F.lit("jaccard").alias("tier"),
        "blocks_total", "blocks_dropped", "units_total", "units_dropped",
        F.col("units_dropped").alias("docs_deferred"),
        "docs_probe_truncated",
    )

    def _banded_row(tier: str, banded: DataFrame, keys: list, cap: int):
        # banded is localCheckpointed by the caller: the sizes aggregate
        # and the per-doc deferral aggregate both scan it, and without
        # the checkpoint each branch re-runs the signature pipeline
        sizes = banded.groupBy(*keys).agg(F.count(F.lit(1)).alias("bn"))
        deferred = (
            banded.join(sizes, keys)
            .groupBy("doc_id")
            .agg(F.max((F.col("bn") <= cap).cast("int")).alias("k"))
            .agg(F.sum((F.col("k") == 0).cast("bigint")).alias("docs_deferred"))
        )
        return _block_stats(sizes, cap).crossJoin(deferred).select(
            F.lit(tier).alias("tier"),
            "blocks_total", "blocks_dropped", "units_total", "units_dropped",
            "docs_deferred",
            F.lit(None).cast("bigint").alias("docs_probe_truncated"),
        )

    # Two separate signature pipelines, deliberately NOT fused: a fused
    # groupBy computing all 80 buffers (16 minhash mins + 64 simhash
    # bit sums) over one shared explode MEASURED 1.34x SLOWER than the
    # two-pass form (3x-interleaved ab_bench, exec 2.98 vs 2.21 s at
    # sf0.1 — the 80-expression aggregate falls out of the efficient
    # codegen path the 64-buffer simhash aggregate still enjoys), so
    # each tier keeps the exact pipeline its operator runs.
    mrow = _banded_row(
        "minhash", local_ckpt(minhash_banded(docs)),
        ["band_id", "band_key"], HOT_BUCKET_CAP,
    )
    srow = _banded_row(
        "simhash",
        local_ckpt(
            _simhash_banded(
                simhash_fingerprint_ints(spark, sf_dir, base=base)
            ).drop("sh")
        ),
        ["band", "bval"], SIMHASH_BLOCK_CAP,
    )

    # --- emb_cos tier: sign buckets over VALID vectors, EMB_BUCKET_CAP
    # (embedding_dup_pairs' skew guard).  units are the VALID vectors —
    # degenerate/ragged rows are a validity exclusion upstream of the
    # cap (see similarity._valid_vecs), not a cap drop ---
    from .similarity import EMB_BUCKET_CAP, _bucket, _valid_vecs

    ev = _valid_vecs(spark, sf_dir).select(_bucket(F.col("v")).alias("bucket"))
    eb = ev.groupBy("bucket").agg(F.count(F.lit(1)).alias("bn"))
    erow = _block_stats(eb, EMB_BUCKET_CAP).select(
        F.lit("emb_cos").alias("tier"),
        "blocks_total", "blocks_dropped", "units_total", "units_dropped",
        F.col("units_dropped").alias("docs_deferred"),
        F.lit(None).cast("bigint").alias("docs_probe_truncated"),
    )
    return jrow.unionByName(mrow).unionByName(srow).unionByName(erow)


def _duck_coverage_sql() -> str:
    from .similarity import _DUCK_V, EMB_BUCKET_CAP, _duck_bucket

    w = JACCARD_BUCKET_W
    sim_unions = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {k} AS band,"
        f" sh & CAST({band_mask(k)} AS BIGINT) AS bval FROM fps_int"
        for k in range(SIMHASH_BANDS)
    )
    return (
        "WITH "
        + _duck_minhash_prefix()
        + ","
        + _duck_simhash_cte()
        + f""",
jd AS MATERIALIZED (
  SELECT doc_id, lang,
         CAST(len(list_distinct(list_transform(string_split(text, ' '),
              w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT)))) AS INTEGER) AS nw
  FROM documents
),
jd2 AS MATERIALIZED (
  SELECT doc_id, lang, nw, CAST(nw // {w} AS BIGINT) AS len_bucket FROM jd
),
jb AS MATERIALIZED (
  SELECT lang, len_bucket, count(*) AS bn FROM jd2 GROUP BY 1, 2
),
msz AS MATERIALIZED (
  SELECT band_id, band_key, count(*) AS bn FROM banded_all GROUP BY 1, 2
),
sbanded AS MATERIALIZED (
{sim_unions}
),
ssz AS MATERIALIZED (
  SELECT band, bval, count(*) AS bn FROM sbanded GROUP BY 1, 2
),
ev AS MATERIALIZED (
  SELECT {_duck_bucket('emb')} AS bucket FROM ({_DUCK_V})
),
eb AS MATERIALIZED (
  SELECT bucket, count(*) AS bn FROM ev GROUP BY 1
)
SELECT 'jaccard' AS tier,
       CAST(count(*) AS BIGINT) AS blocks_total,
       CAST(sum(CASE WHEN bn > {JACCARD_BLOCK_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS blocks_dropped,
       CAST(sum(bn) AS BIGINT) AS units_total,
       CAST(sum(CASE WHEN bn > {JACCARD_BLOCK_CAP} THEN bn ELSE 0 END) AS BIGINT) AS units_dropped,
       CAST(sum(CASE WHEN bn > {JACCARD_BLOCK_CAP} THEN bn ELSE 0 END) AS BIGINT) AS docs_deferred,
       (SELECT CAST(count(*) AS BIGINT)
          FROM jd2 JOIN jb USING (lang, len_bucket)
         WHERE jb.bn <= {JACCARD_BLOCK_CAP}
           AND ((nw * 10) // 7) // {w} - nw // {w} > {JACCARD_PROBE_CAP}) AS docs_probe_truncated
FROM jb
UNION ALL
SELECT 'minhash',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN bn > {HOT_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(bn) AS BIGINT),
       CAST(sum(CASE WHEN bn > {HOT_BUCKET_CAP} THEN bn ELSE 0 END) AS BIGINT),
       (SELECT CAST(count(*) AS BIGINT) FROM (
          SELECT doc_id, max(CASE WHEN msz.bn <= {HOT_BUCKET_CAP} THEN 1 ELSE 0 END) AS k
          FROM banded_all JOIN msz USING (band_id, band_key) GROUP BY doc_id
        ) WHERE k = 0),
       CAST(NULL AS BIGINT)
FROM msz
UNION ALL
SELECT 'simhash',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN bn > {SIMHASH_BLOCK_CAP} THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(bn) AS BIGINT),
       CAST(sum(CASE WHEN bn > {SIMHASH_BLOCK_CAP} THEN bn ELSE 0 END) AS BIGINT),
       (SELECT CAST(count(*) AS BIGINT) FROM (
          SELECT doc_id, max(CASE WHEN ssz.bn <= {SIMHASH_BLOCK_CAP} THEN 1 ELSE 0 END) AS k
          FROM sbanded JOIN ssz USING (band, bval) GROUP BY doc_id
        ) WHERE k = 0),
       CAST(NULL AS BIGINT)
FROM ssz
UNION ALL
SELECT 'emb_cos',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN bn > {EMB_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(bn) AS BIGINT),
       CAST(sum(CASE WHEN bn > {EMB_BUCKET_CAP} THEN bn ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN bn > {EMB_BUCKET_CAP} THEN bn ELSE 0 END) AS BIGINT),
       CAST(NULL AS BIGINT)
FROM eb
ORDER BY tier
"""
    )


QUERIES.update({"dedup_coverage": (dedup_coverage, _duck_coverage_sql())})


# ---------------------------------------------------------------------------
# Predicate-power probes (registry.all_probes contract: every query in
# QUERIES needs >= 1 entry here; kind "oracle" runs over `t` = this
# query's materialized oracle output, kind "corpus" over the raw views;
# power = a > 0 and (b is None or b > 0))
# ---------------------------------------------------------------------------

PROBES: dict[str, tuple] = {
    "dedup exact arm collapses duplicates": (
        "dedup_basic_pack", "oracle",
        "SELECT sum(CASE WHEN arm='exact' AND n_copies>1 THEN 1 ELSE 0 END),"
        " sum(CASE WHEN arm='exact' AND n_copies=1 THEN 1 ELSE 0 END) FROM t"),
    "dedup fingerprint normalization collapses variants": (
        "dedup_basic_pack", "oracle",
        "SELECT sum(CASE WHEN arm='fingerprint' AND n_copies>1 THEN 1 ELSE 0 END),"
        " sum(CASE WHEN arm='fingerprint' AND n_copies=1 THEN 1 ELSE 0 END) FROM t"),
    "minhash pairs near-but-not-identical, not all-pairs": (
        "dedup_minhash_pairs", "oracle",
        "SELECT (SELECT count(*) FROM t WHERE jaccard < 1),"
        " (SELECT count(*) FROM documents) - (SELECT count(*) FROM"
        "   (SELECT doc_a AS id FROM t UNION SELECT doc_b FROM t))"),
    "simhash pairs within hamming budget, not all-pairs": (
        "simhash_dup_pairs", "oracle",
        "SELECT (SELECT count(*) FROM t WHERE hamming > 0),"
        " (SELECT count(*) FROM documents) - (SELECT count(*) FROM"
        "   (SELECT doc_a AS id FROM t UNION SELECT doc_b FROM t))"),
    "dup clusters pick one canonical among members": (
        "dedup_clusters", "oracle",
        "SELECT sum(CASE WHEN is_canonical=1 THEN 1 ELSE 0 END),"
        " sum(CASE WHEN is_canonical=0 THEN 1 ELSE 0 END) FROM t"),
    "dup clusters exclude unclustered docs": (
        "dedup_clusters", "oracle",
        "SELECT (SELECT count(*) FROM documents) - (SELECT count(*) FROM t),"
        " NULL"),
    "dup_pairs arms both populated, scores spread": (
        "dup_pairs_pack", "oracle",
        "SELECT (SELECT count(DISTINCT kind) - 1 FROM t),"
        " (SELECT CASE WHEN min(score) < max(score) THEN 1 ELSE 0 END FROM t)"),
    # --- dedup_coverage (r14): the drop paths must actually fire on the
    # driver corpus for at least the banded tiers (the jaccard cap and
    # the probe truncation bind only at larger SFs / crafted corpora —
    # pinned by tests/test_dedup_coverage.py crafted cases)
    "coverage minhash hot buckets dropped and docs deferred": (
        "dedup_coverage", "oracle",
        "SELECT (SELECT units_dropped FROM t WHERE tier='minhash'),"
        " (SELECT docs_deferred FROM t WHERE tier='minhash')"),
    "coverage simhash blocks dropped": (
        "dedup_coverage", "oracle",
        "SELECT (SELECT blocks_dropped FROM t WHERE tier='simhash'),"
        " (SELECT units_dropped FROM t WHERE tier='simhash')"),
    "coverage jaccard accounts for whole corpus": (
        "dedup_coverage", "oracle",
        "SELECT (SELECT blocks_total FROM t WHERE tier='jaccard'),"
        " (SELECT CASE WHEN units_total = (SELECT count(*) FROM documents)"
        "   THEN 1 ELSE 0 END FROM t WHERE tier='jaccard')"),
    "coverage emb tier buckets the valid-vector corpus": (
        "dedup_coverage", "oracle",
        "SELECT (SELECT blocks_total FROM t WHERE tier='emb_cos'),"
        " (SELECT units_total FROM t WHERE tier='emb_cos')"),
}
