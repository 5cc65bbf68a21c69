"""Deterministic mergeable-sketch operators (round-3 additions, SURVEY.md
§2.B): the 100 TB answer to "how many distinct / who's frequent" when exact
state would not fit.

Spark's built-ins (``approx_count_distinct``, ``approx_percentile``) are
engine-private sketches — correct, but not attestable against another
engine, so the registry carries them rows-only. These two queries implement
the same sketches *from first principles* over an md5 base hash that both
Spark and DuckDB compute bit-identically, so the full pipeline — hash →
register/cell update → merge → estimate — gets an exact cross-engine oracle:

- ``agg_hll_distinct_customers``: HyperLogLog (Flajolet et al. 2007) with
  m=64 registers.  The register update is a plain ``groupBy(group,
  register).max(rank)`` — i.e. the sketch IS a tiny mergeable aggregate
  (64 rows per group forever, no matter how many billions of rows stream
  through), which is why HLL is the standard distinct-count at scale.
- ``sketch_cm_heavy_hitters``: a 4×1024 count-min sketch (Cormode &
  Muthukrishnan 2005) over the document token stream, then heavy hitters
  read back from the sketch with their guaranteed-overestimate property
  checked against exact counts.

Scale notes: both sketches are built with one map-side-combinable grouped
aggregation whose output cardinality is FIXED (64·groups cells / 4096
cells); the md5 work for count-min runs over the *vocabulary*, not the
token stream (counts first, hash once per distinct token).  Estimate math
sticks to integer arithmetic (bit-shifted register sums, bigint cell
counts) until the final division so no floating summation order exists for
the engines to disagree on; the one double division uses identical inputs
on both sides and rounds via the repo's floor-trick.

Reference parity: the reference keeps exact per-run counts in a Firestore
status doc (``app/alpaca_service.py:19-25``, R18/R24); these are the
bounded-state generalizations of those counters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..session import materialize
from . import register

# --------------------------------------------------------------------------
# HyperLogLog, m=64 (p=6), alpha_64 = 0.709.
#
# h = md5(key): hex digits 1-2 pick the register (256 % 64 == 0, so the
# modulo stays uniform); hex digits 3-15 are a 52-bit tail whose
# leading-zero run gives the rank (first-one position, 1-based; all-zero
# tail => rank 53).  Counting zeros on the HEX STRING keeps the whole
# pipeline in integer/string ops both engines implement identically:
# 4 zeros per leading '0' digit plus 0-3 for the first non-zero digit.
#
# The register sum uses 2^(55-r) as a BIGINT shift (r <= 53, and
# 64·2^55 = 2^61 cannot overflow), so the harmonic-mean denominator is an
# EXACT integer; only the final alpha·m²·2^55 / S division is floating
# point, on bit-identical operands.
# --------------------------------------------------------------------------

_HLL_ALPHA = 0.709
_TWO55 = 1 << 55


def _rank_from_hex_tail(tail_col):
    """first-one position (1-based) in the 52-bit value spelled by a
    13-hex-digit string; 53 when the tail is all zeros."""
    zrun = F.length(F.regexp_extract(tail_col, "^(0*)", 1))
    first = tail_col.substr(zrun + 1, F.lit(1))
    digit_zeros = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    return F.when(zrun >= 13, F.lit(53)).otherwise(zrun * 4 + digit_zeros + 1)


_DUCK_RANK = """
CASE WHEN zrun >= 13 THEN 53
     ELSE zrun * 4
          + CASE WHEN first_d = '1' THEN 3
                 WHEN first_d IN ('2','3') THEN 2
                 WHEN first_d IN ('4','5','6','7') THEN 1
                 ELSE 0 END
          + 1 END
"""

HLL_ORACLE = f"""
WITH h AS (
  SELECT o_orderpriority AS prio, md5(CAST(o_custkey AS VARCHAR)) AS hex
  FROM orders
), parts AS (
  SELECT prio,
         CAST(('0x' || substr(hex, 1, 2)) AS BIGINT) % 64 AS reg,
         length(regexp_extract(substr(hex, 3, 13), '^(0*)', 1)) AS zrun,
         substr(substr(hex, 3, 13),
                length(regexp_extract(substr(hex, 3, 13), '^(0*)', 1)) + 1,
                1) AS first_d
  FROM h
), regs AS (
  SELECT prio, reg, max({_DUCK_RANK}) AS r
  FROM parts GROUP BY prio, reg
), merged AS (
  SELECT prio,
         sum(1::BIGINT << (55 - r)) AS s_present,
         count(*) AS n_regs
  FROM regs GROUP BY prio
), est AS (
  SELECT prio,
         64 - n_regs AS v_zero,
         ({_HLL_ALPHA} * 4096.0 * {float(_TWO55)})
           / CAST(s_present + (64 - n_regs) * {_TWO55} AS DOUBLE) AS raw
  FROM merged
), fin AS (
  SELECT prio, v_zero,
         CASE WHEN v_zero > 0 AND raw <= 160.0
              THEN 64.0 * ln(64.0 / CAST(v_zero AS DOUBLE))
              ELSE raw END AS e
  FROM est
)
SELECT f.prio, f.v_zero,
       floor(f.e * 100.0 + 0.5) / 100.0 AS hll_estimate,
       x.n_exact
FROM fin f
JOIN (SELECT o_orderpriority AS prio, count(DISTINCT o_custkey) AS n_exact
      FROM orders GROUP BY o_orderpriority) x USING (prio)
ORDER BY prio
"""


@register("agg_hll_distinct_customers", oracle=HLL_ORACLE)
def agg_hll_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customers per order priority via a hand-rolled 64-register
    HyperLogLog, attested against DuckDB recomputing the identical sketch
    (and against the exact distinct count carried alongside).

    At 100 TB the shape is: one narrow shuffle keyed (group, register)
    whose output is ≤ 64·|groups| rows regardless of input size, then an
    O(|groups|) merge — vs ``count(DISTINCT)``'s full repartition of every
    distinct key.  Registers from different corpora union+max-merge, which
    is how per-partition sketches roll up without a rescan.
    """
    orders = load_table(spark, sf_dir, "orders")
    hexd = F.md5(F.col("o_custkey").cast("string"))
    tail = F.substring(hexd, 3, 13)
    parts = orders.select(
        F.col("o_orderpriority").alias("prio"),
        F.pmod(F.conv(F.substring(hexd, 1, 2), 16, 10).cast("long"), F.lit(64)).alias(
            "reg"
        ),
        _rank_from_hex_tail(tail).alias("r"),
    )
    regs = parts.groupBy("prio", "reg").agg(F.max("r").alias("r"))
    merged = regs.groupBy("prio").agg(
        F.sum(F.expr("shiftleft(1L, 55 - r)")).alias("s_present"),
        F.count("*").alias("n_regs"),
    )
    est = merged.select(
        "prio",
        (F.lit(64) - F.col("n_regs")).alias("v_zero"),
        (
            F.lit(_HLL_ALPHA * 4096.0 * float(_TWO55))
            / (
                F.col("s_present")
                + (F.lit(64) - F.col("n_regs")) * F.lit(_TWO55)
            ).cast("double")
        ).alias("raw"),
    )
    fin = est.select(
        "prio",
        "v_zero",
        F.when(
            (F.col("v_zero") > 0) & (F.col("raw") <= 160.0),
            F.lit(64.0) * F.log(F.lit(64.0) / F.col("v_zero").cast("double")),
        )
        .otherwise(F.col("raw"))
        .alias("e"),
    )
    exact = orders.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.countDistinct("o_custkey").alias("n_exact")
    )
    return (
        fin.join(exact, "prio")
        .select(
            "prio",
            "v_zero",
            (F.floor(F.col("e") * 100.0 + 0.5) / 100.0).alias("hll_estimate"),
            "n_exact",
        )
        .orderBy("prio")
    )


# --------------------------------------------------------------------------
# Count-min sketch, depth 4 × width 1024, over the document token stream.
#
# Build order matters at scale: exact token counts FIRST (map-side
# combinable, vocabulary-sized output), then md5 once per (distinct token,
# row) — the hash work is O(vocab·4), not O(token occurrences·4).  The
# sketch itself is the 4096-cell grouped sum; the point query for token t
# is min over the 4 cells t hashes to, which can only overestimate.
# Heavy hitters = tokens whose sketch estimate clears 1/200 of the stream.
# --------------------------------------------------------------------------

_CM_D, _CM_W = 4, 1024

_DUCK_CM_BUCKET = (
    "CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || token), 1, 8)) AS BIGINT)"
    f" % {_CM_W}"
)

CM_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), counts AS (
  SELECT token, count(*) AS c FROM tok GROUP BY token
), hashed AS (
  SELECT token, c, j, {_DUCK_CM_BUCKET} AS bucket
  FROM counts CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) u
), cells AS (
  SELECT j, bucket, CAST(sum(c) AS BIGINT) AS cell FROM hashed GROUP BY j, bucket
), est AS (
  SELECT h.token, max(h.c) AS exact_count, min(cells.cell) AS est_count
  FROM hashed h JOIN cells ON h.j = cells.j AND h.bucket = cells.bucket
  GROUP BY h.token
)
SELECT token, est_count, exact_count
FROM est
WHERE CAST(est_count AS DOUBLE)
      >= (SELECT sum(c) FROM counts) / 200.0
ORDER BY est_count DESC, token
"""


@register("sketch_cm_heavy_hitters", oracle=CM_ORACLE)
def sketch_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens from a 4×1024 count-min sketch, with the exact
    count alongside (sketch law: ``est_count >= exact_count`` always —
    tests/test_sketches.py asserts it row-wise).

    The sketch is 4096 bigint cells however large the corpus — cells from
    per-batch sketches ADD, so a 100 TB corpus builds per-partition
    sketches map-side and merges O(1) state; the full token stream is never
    reshuffled (only the vocab-sized count table moves).
    """
    docs = load_table(spark, sf_dir, "documents")
    # r11 opt (guide §1.2 #1): the vocabulary-sized count table feeds the
    # hashed cells AND the stream total — materialize so the corpus
    # tokenize + count shuffle runs once, not twice
    counts = materialize(
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    hashed = counts.select(
        "token",
        "c",
        F.explode(F.array([F.lit(j) for j in range(_CM_D)])).alias("j"),
    ).withColumn(
        "bucket",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("j").cast("string"), F.lit("|"), F.col("token"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(_CM_W),
        ),
    )
    cells = hashed.groupBy("j", "bucket").agg(F.sum("c").alias("cell"))
    est = (
        hashed.join(cells, ["j", "bucket"])
        .groupBy("token")
        .agg(F.max("c").alias("exact_count"), F.min("cell").alias("est_count"))
    )
    total = counts.agg(F.sum("c").alias("t"))
    return (
        est.crossJoin(F.broadcast(total))
        .filter(F.col("est_count").cast("double") >= F.col("t") / 200.0)
        .select("token", "est_count", "exact_count")
        .orderBy(F.desc("est_count"), "token")
    )


# --------------------------------------------------------------------------
# HLL partial-merge: build one 64-register sketch PER (priority, order-year)
# partition, then max-merge the partials into the per-priority estimate —
# the exact operational pattern at 100 TB (sketch each ingest
# partition/day once; answer "distinct over any span" later by merging
# registers, never rescanning the data). max() is associative/idempotent,
# so the merged registers — and therefore the estimate — are bit-identical
# to agg_hll_distinct_customers' single-pass sketch; the oracle recomputes
# the two-level pipeline independently in DuckDB.
# --------------------------------------------------------------------------
HLL_MERGE_ORACLE = f"""
WITH h AS (
  SELECT o_orderpriority AS prio,
         CAST(year(o_orderdate) AS BIGINT) AS yr,
         md5(CAST(o_custkey AS VARCHAR)) AS hex
  FROM orders
), parts AS (
  SELECT prio, yr,
         CAST(('0x' || substr(hex, 1, 2)) AS BIGINT) % 64 AS reg,
         length(regexp_extract(substr(hex, 3, 13), '^(0*)', 1)) AS zrun,
         substr(substr(hex, 3, 13),
                length(regexp_extract(substr(hex, 3, 13), '^(0*)', 1)) + 1,
                1) AS first_d
  FROM h
), partial_regs AS (
  SELECT prio, yr, reg, max({_DUCK_RANK}) AS r
  FROM parts GROUP BY prio, yr, reg
), merged_regs AS (
  SELECT prio, reg, max(r) AS r FROM partial_regs GROUP BY prio, reg
), merged AS (
  SELECT prio,
         sum(1::BIGINT << (55 - r)) AS s_present,
         count(*) AS n_regs
  FROM merged_regs GROUP BY prio
), np AS (
  SELECT prio, CAST(count(DISTINCT yr) AS BIGINT) AS n_partials
  FROM partial_regs GROUP BY prio
), est AS (
  SELECT prio,
         64 - n_regs AS v_zero,
         ({_HLL_ALPHA} * 4096.0 * {float(_TWO55)})
           / CAST(s_present + (64 - n_regs) * {_TWO55} AS DOUBLE) AS raw
  FROM merged
), fin AS (
  SELECT prio, v_zero,
         CASE WHEN v_zero > 0 AND raw <= 160.0
              THEN 64.0 * ln(64.0 / CAST(v_zero AS DOUBLE))
              ELSE raw END AS e
  FROM est
)
SELECT f.prio, np.n_partials, f.v_zero,
       floor(f.e * 100.0 + 0.5) / 100.0 AS hll_estimate
FROM fin f JOIN np USING (prio)
ORDER BY prio
"""


@register("agg_hll_merge_partials", oracle=HLL_MERGE_ORACLE)
def agg_hll_merge_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    hexd = F.md5(F.col("o_custkey").cast("string"))
    tail = F.substring(hexd, 3, 13)
    parts = orders.select(
        F.col("o_orderpriority").alias("prio"),
        F.year("o_orderdate").cast("long").alias("yr"),
        F.pmod(F.conv(F.substring(hexd, 1, 2), 16, 10).cast("long"), F.lit(64)).alias(
            "reg"
        ),
        _rank_from_hex_tail(tail).alias("r"),
    )
    partial_regs = parts.groupBy("prio", "yr", "reg").agg(F.max("r").alias("r"))
    partial_regs = materialize(partial_regs)  # two consumers
    merged_regs = partial_regs.groupBy("prio", "reg").agg(F.max("r").alias("r"))
    merged = merged_regs.groupBy("prio").agg(
        F.sum(F.expr("shiftleft(1L, 55 - r)")).alias("s_present"),
        F.count("*").alias("n_regs"),
    )
    np_ = partial_regs.groupBy("prio").agg(
        F.countDistinct("yr").alias("n_partials")
    )
    v_zero = (F.lit(64) - F.col("n_regs")).alias("v_zero")
    raw = (F.lit(_HLL_ALPHA) * F.lit(4096.0) * F.lit(float(_TWO55))) / (
        F.col("s_present") + (F.lit(64) - F.col("n_regs")) * F.lit(_TWO55)
    ).cast("double")
    est = merged.select("prio", v_zero, raw.alias("raw"))
    e = F.when(
        (F.col("v_zero") > 0) & (F.col("raw") <= 160.0),
        F.lit(64.0) * F.log(F.lit(64.0) / F.col("v_zero").cast("double")),
    ).otherwise(F.col("raw"))
    return (
        est.join(np_, "prio")
        .select(
            "prio",
            "n_partials",
            "v_zero",
            (F.floor(e * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)).alias(
                "hll_estimate"
            ),
        )
        .orderBy("prio")
    )


# --------------------------------------------------------------------------
# HLL set-operation estimates via inclusion-exclusion: |A ∪ B| comes free
# from the register max-merge (union of sketches IS the sketch of the
# union), and |A ∩ B| ≈ E(A) + E(B) − E(A∪B) — the standard way to answer
# audience-overlap questions from per-segment sketches without ever joining
# the raw key sets. A = customers with URGENT orders, B = customers with
# HIGH orders. All registers come from ONE grouped pass; estimates use the
# same integer-exact harmonic sums as the base HLL query; exact overlap
# carried alongside for the attestation.
# --------------------------------------------------------------------------
HLL_INTERSECT_ORACLE = f"""
WITH h AS (
  SELECT o_orderpriority AS prio, md5(CAST(o_custkey AS VARCHAR)) AS hex
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
), parts AS (
  SELECT prio,
         CAST(('0x' || substr(hex, 1, 2)) AS BIGINT) % 64 AS reg,
         length(regexp_extract(substr(hex, 3, 13), '^(0*)', 1)) AS zrun,
         substr(substr(hex, 3, 13),
                length(regexp_extract(substr(hex, 3, 13), '^(0*)', 1)) + 1,
                1) AS first_d
  FROM h
), regs AS (
  SELECT prio, reg, max({_DUCK_RANK}) AS r FROM parts GROUP BY prio, reg
), union_regs AS (
  SELECT reg, max(r) AS r FROM regs GROUP BY reg
), est_parts AS (
  SELECT prio AS side, 64 - count(*) AS v_zero,
         (0.709 * 4096.0 * {float(_TWO55)})
           / CAST(sum(1::BIGINT << (55 - r)) + (64 - count(*)) * {_TWO55}
                  AS DOUBLE) AS raw
  FROM regs GROUP BY prio
), est_union AS (
  SELECT 'UNION' AS side, 64 - count(*) AS v_zero,
         (0.709 * 4096.0 * {float(_TWO55)})
           / CAST(sum(1::BIGINT << (55 - r)) + (64 - count(*)) * {_TWO55}
                  AS DOUBLE) AS raw
  FROM union_regs
), fin AS (
  SELECT side,
         CASE WHEN v_zero > 0 AND raw <= 160.0
              THEN 64.0 * ln(64.0 / CAST(v_zero AS DOUBLE))
              ELSE raw END AS e
  FROM (SELECT * FROM est_parts UNION ALL SELECT * FROM est_union)
), pivoted AS (
  SELECT max(CASE WHEN side = '1-URGENT' THEN e END) AS ea,
         max(CASE WHEN side = '2-HIGH' THEN e END) AS eb,
         max(CASE WHEN side = 'UNION' THEN e END) AS eu
  FROM fin
), exact AS (
  SELECT CAST(count(*) AS BIGINT) AS n_exact_overlap FROM (
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
  )
)
SELECT floor(ea * 100.0 + 0.5) / 100.0 AS est_a,
       floor(eb * 100.0 + 0.5) / 100.0 AS est_b,
       floor(eu * 100.0 + 0.5) / 100.0 AS est_union,
       floor((ea + eb - eu) * 100.0 + 0.5) / 100.0 AS est_intersection,
       n_exact_overlap
FROM pivoted CROSS JOIN exact
"""


@register("agg_hll_intersection_estimate", oracle=HLL_INTERSECT_ORACLE)
def agg_hll_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    two = orders.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    hexd = F.md5(F.col("o_custkey").cast("string"))
    tail = F.substring(hexd, 3, 13)
    parts = two.select(
        F.col("o_orderpriority").alias("prio"),
        F.pmod(F.conv(F.substring(hexd, 1, 2), 16, 10).cast("long"), F.lit(64)).alias(
            "reg"
        ),
        _rank_from_hex_tail(tail).alias("r"),
    )
    regs = parts.groupBy("prio", "reg").agg(F.max("r").alias("r"))
    # r10 opt: the registers ARE the sketch — ≤ 2×64 rows by construction
    # (that bound is HLL's whole point), so the three harmonic estimates
    # are driver arithmetic over collected metadata, not three more Spark
    # jobs + three scalar broadcasts (each a scheduler round-trip that
    # dominated this query's wall). One job collects the registers; the
    # corpus-sized exact-overlap INTERSECT stays distributed. Arithmetic
    # mirrors the old column expressions op-for-op ((α·4096)·2^55 over an
    # integer register sum; the ≤160 small-range ln correction), and the
    # 2-dp floor rounding happens in the same place.
    import math

    reg_rows = regs.collect()  # ≤128 rows — sketch-bounded, never corpus

    def _estimate(rows) -> float:
        s = sum(1 << (55 - r["r"]) for r in rows)
        n = len(rows)
        raw = (_HLL_ALPHA * 4096.0 * float(_TWO55)) / float(
            s + (64 - n) * _TWO55
        )
        v_zero = 64 - n
        if v_zero > 0 and raw <= 160.0:
            return 64.0 * math.log(64.0 / float(v_zero))
        return raw

    ea = _estimate([r for r in reg_rows if r["prio"] == "1-URGENT"])
    eb = _estimate([r for r in reg_rows if r["prio"] == "2-HIGH"])
    union_best: dict[int, int] = {}
    for r in reg_rows:
        union_best[r["reg"]] = max(union_best.get(r["reg"], 0), r["r"])
    eu = _estimate(
        [{"r": v, "reg": k, "prio": None} for k, v in union_best.items()]
    )
    a_keys = two.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b_keys = two.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    exact = (
        a_keys.intersect(b_keys)
        .agg(F.count(F.lit(1)).alias("n_exact_overlap"))
    )

    def _r2(x: float) -> float:
        return math.floor(x * 100.0 + 0.5) / 100.0

    return exact.select(
        F.lit(_r2(ea)).alias("est_a"),
        F.lit(_r2(eb)).alias("est_b"),
        F.lit(_r2(eu)).alias("est_union"),
        F.lit(_r2(ea + eb - eu)).alias("est_intersection"),
        F.col("n_exact_overlap"),
    )


# --------------------------------------------------------------------------
# EXACT distinct count via grouped bitmaps — the bounded-domain complement
# to HLL (roaring-bitmap idea in pure SQL): pack user ids into 63-bit words
# (word = id div 63, bit = id mod 63 — bit 63 is skipped because DuckDB's
# checked signed shift raises on 1 << 63 while Spark wraps silently), OR
# the bits per (group, word), then popcount. State per group = ceil(domain/64) words no matter how many
# billions of rows stream through, updates are associative/commutative (a
# mergeable exact sketch), and unlike count(DISTINCT) the shuffle carries
# (group, word) partial ORs, never raw ids. Exactness is attested by
# carrying count(DISTINCT) alongside — the two columns must be equal.
# --------------------------------------------------------------------------
BITMAP_DISTINCT_ORACLE = """
WITH bits AS (
  SELECT event_type, user_id // 63 AS word,
         bit_or(1::BIGINT << CAST(user_id % 63 AS INTEGER)) AS bm
  FROM events GROUP BY event_type, word
), pc AS (
  SELECT event_type, CAST(sum(bit_count(bm)) AS BIGINT) AS bitmap_distinct
  FROM bits GROUP BY event_type
), exact AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT pc.event_type, bitmap_distinct, exact_distinct
FROM pc JOIN exact USING (event_type)
ORDER BY event_type
"""


@register("agg_bitmap_exact_distinct", oracle=BITMAP_DISTINCT_ORACLE)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bits = events.groupBy(
        "event_type", F.expr("user_id div 63").alias("word")
    ).agg(
        F.expr("bit_or(shiftleft(1L, cast(user_id % 63 as int)))").alias("bm")
    )
    pc = bits.groupBy("event_type").agg(
        F.sum(F.bit_count("bm")).cast("long").alias("bitmap_distinct")
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return pc.join(exact, "event_type").orderBy("event_type")


# --------------------------------------------------------------------------
# Bloom-filter build + false-positive-rate audit (round 4): build an
# m=8190-bit (130 × 63-bit words — bit 63 unused, ANSI-safe like the exact
# bitmap above), k=3 Bloom filter over the customers-with-orders key set,
# probe it with the customers WITHOUT orders (guaranteed non-members, so
# every positive is a false positive), and report measured FPR next to the
# (1 − e^{−kn/m})^k theory. The md5-prefix hash makes every bit position
# engine-reproducible (same trick as count-min). At 100 TB the filter is
# 130 mergeable bigint words built map-side — the shuffle carries words,
# never keys; this is the engine-agnostic twin of the runtime bloom join
# (join_bloom_runtime_filter), with the sketch itself auditable.
# --------------------------------------------------------------------------
_BLOOM_WORDS = 130
_BLOOM_M = 63 * _BLOOM_WORDS  # 8190 bits
_BLOOM_K = 3

_DUCK_BLOOM_POS = (
    "CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || CAST(key AS VARCHAR)),"
    f" 1, 8)) AS BIGINT) % {_BLOOM_M}"
)

BLOOM_ORACLE = f"""
WITH members AS (
  SELECT DISTINCT o_custkey AS key FROM orders
), mbits AS (
  SELECT {_DUCK_BLOOM_POS} AS pos
  FROM members CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) u
), words AS (
  SELECT CAST(pos / 63 AS BIGINT) AS w,
         bit_or(1::BIGINT << CAST(pos % 63 AS INTEGER)) AS bm
  FROM mbits GROUP BY w
), probes AS (
  SELECT c_custkey AS key FROM customer
  WHERE c_custkey NOT IN (SELECT key FROM members)
), pbits AS (
  SELECT key, {_DUCK_BLOOM_POS} AS pos
  FROM probes CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) u
), tested AS (
  SELECT p.key,
         min(CASE WHEN (coalesce(words.bm, 0) >> CAST(p.pos % 63 AS INTEGER)) & 1 = 1
                  THEN 1 ELSE 0 END) AS all_set
  FROM pbits p LEFT JOIN words ON words.w = CAST(p.pos / 63 AS BIGINT)
  GROUP BY p.key
), n AS (
  SELECT CAST((SELECT count(*) FROM members) AS DOUBLE) AS n_members,
         CAST((SELECT count(*) FROM probes) AS DOUBLE) AS n_probes,
         CAST((SELECT sum(all_set) FROM tested) AS DOUBLE) AS fp
)
SELECT CAST({_BLOOM_M} AS BIGINT) AS m_bits,
       CAST({_BLOOM_K} AS BIGINT) AS k_hashes,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(n_probes AS BIGINT) AS n_probes,
       CAST(fp AS BIGINT) AS false_positives,
       round(fp / n_probes, 6) AS measured_fpr,
       round(pow(1.0 - exp(-{_BLOOM_K}.0 * n_members / {_BLOOM_M}.0),
                 {_BLOOM_K}), 6) AS theory_fpr
FROM n
"""


@register("sketch_bloom_fpr_audit", oracle=BLOOM_ORACLE)
def sketch_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    members = orders.select(F.col("o_custkey").alias("key")).distinct()
    members = materialize(members)  # bits + probe anti-join
    js = F.explode(F.array(*[F.lit(j) for j in range(_BLOOM_K)])).alias("j")

    def pos_expr():
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.col("j"), F.col("key"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % _BLOOM_M
        )

    words = (
        members.select("key", js)
        .select((pos_expr()).alias("pos"))
        .groupBy((F.col("pos") / 63).cast("long").alias("w"))
        .agg(
            F.expr("bit_or(shiftleft(1L, cast(pos % 63 as int)))").alias("bm")
        )
    )
    probes = cust.select(F.col("c_custkey").alias("key")).join(
        members, "key", "left_anti"
    )
    pbits = probes.select("key", js).select("key", pos_expr().alias("pos"))
    tested = (
        pbits.join(F.broadcast(words), (F.col("pos") / 63).cast("long") == F.col("w"), "left")
        .select(
            "key",
            F.expr(
                "CASE WHEN (shiftright(coalesce(bm, 0L),"
                " cast(pos % 63 as int)) & 1) = 1 THEN 1 ELSE 0 END"
            ).alias("hit"),
        )
        .groupBy("key")
        .agg(F.min("hit").alias("all_set"))
    )
    stats = (
        tested.agg(
            F.count(F.lit(1)).cast("double").alias("n_probes"),
            F.sum("all_set").cast("double").alias("fp"),
        )
        .crossJoin(
            F.broadcast(members.agg(F.count(F.lit(1)).cast("double").alias("n_members")))
        )
    )
    theory = F.pow(
        1.0 - F.exp(-float(_BLOOM_K) * F.col("n_members") / float(_BLOOM_M)),
        float(_BLOOM_K),
    )
    return stats.select(
        F.lit(_BLOOM_M).cast("long").alias("m_bits"),
        F.lit(_BLOOM_K).cast("long").alias("k_hashes"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("n_probes").cast("long").alias("n_probes"),
        F.col("fp").cast("long").alias("false_positives"),
        F.round(F.col("fp") / F.col("n_probes"), 6).alias("measured_fpr"),
        F.round(theory, 6).alias("theory_fpr"),
    )


# --------------------------------------------------------------------------
# Sliding 7-day EXACT distinct users (round 4): the classic "hard" sliding
# aggregate — distinct doesn't decompose over overlapping windows, so the
# naive form rescans 7 days of raw events per output day. Mergeable-bitmap
# form: one (day, word) bit_or pass over the events (the same 63-bit words
# as agg_bitmap_exact_distinct), then a RANGE(-6 days) window OR per word
# over the dense day×word grid, then popcount — raw events are read ONCE
# however many windows overlap, and the window state is words (users/63
# bigints), not user ids. The oracle is the semantically-direct correlated
# count(DISTINCT) — the two must agree exactly. Beyond-reference [NS].
# --------------------------------------------------------------------------
SLIDING_DISTINCT_ORACLE = """
WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS d FROM events)
SELECT strftime(d, '%Y-%m-%d') AS day,
       CAST((SELECT count(DISTINCT e.user_id) FROM events e
             WHERE e.ts >= d - INTERVAL 6 DAY
               AND e.ts < d + INTERVAL 1 DAY) AS BIGINT) AS users_7d
FROM days ORDER BY day
"""


@register("events_sliding_7d_distinct", oracle=SLIDING_DISTINCT_ORACLE)
def events_sliding_7d_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_day = ev.select(
        F.date_trunc("day", "ts").alias("d"),
        (F.col("user_id") / 63).cast("long").alias("w"),
        F.expr("shiftleft(1L, cast(user_id % 63 as int))").alias("bit"),
    ).groupBy("d", "w").agg(F.expr("bit_or(bit)").alias("bm"))
    per_day = materialize(per_day)  # grid + window branches
    # dense day×word grid so the RANGE window sees every word on every day
    # (a word absent on day d but present within the window must still OR in)
    days = per_day.select("d").distinct()
    words = per_day.select("w").distinct()
    grid = days.crossJoin(F.broadcast(words))
    filled = grid.join(per_day, ["d", "w"], "left").select(
        "d", "w", F.coalesce("bm", F.lit(0)).alias("bm"),
        F.datediff(F.col("d"), F.lit("2024-01-01").cast("date")).alias("di"),
    )
    win = W.partitionBy("w").orderBy("di").rangeBetween(-6, 0)
    rolled = filled.select(
        "d", "w", F.expr("bit_or(bm)").over(win).alias("bm7")
    )
    return (
        rolled.groupBy("d")
        .agg(F.sum(F.bit_count("bm7")).alias("users_7d"))
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"), "users_7d")
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Histogram-quantile sketch + error audit (round 4): approximate P50/P95/
# P99 of l_extendedprice per returnflag from a 256-bin equi-width
# histogram — the mergeable-quantile pattern that, unlike the engine-
# private approx_percentile sketch, is EXACTLY reproducible cross-engine
# (bin counts are integers; the interpolation is shared arithmetic).
# Two passes: global min/max/width broadcast, then one (group, bin) count
# aggregate; the per-group cumulative walk is a ≤256-row window. Reported
# next to the exact percentile with the absolute error — the sketch
# acceptance audit. Bins ADD across partitions/batches: the 100 TB merge
# story in one integer vector per group.
# --------------------------------------------------------------------------
_HQ_BINS = 256
_HQ_QS = (0.5, 0.95, 0.99)

HISTQ_ORACLE = f"""
WITH stats AS (
  SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
  FROM lineitem
), b AS (
  SELECT l_returnflag AS g,
         CAST(least(floor((l_extendedprice - mn) / ((mx - mn) / {_HQ_BINS}.0)),
                    {_HQ_BINS - 1}) AS BIGINT) AS bin,
         count(*) AS c
  FROM lineitem CROSS JOIN stats
  GROUP BY g, bin
), cum AS (
  SELECT g, bin, c,
         sum(c) OVER (PARTITION BY g ORDER BY bin
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
  FROM b
), ng AS (
  SELECT g, CAST(sum(c) AS DOUBLE) AS n FROM b GROUP BY g
), qs AS (SELECT unnest([{", ".join(str(q) for q in _HQ_QS)}]) AS q),
hit AS (
  SELECT cum.g, qs.q, cum.bin, cum.c, cum.cc, ng.n,
         qs.q * ng.n AS target
  FROM cum JOIN ng ON ng.g = cum.g CROSS JOIN qs
  WHERE cum.cc >= qs.q * ng.n AND cum.cc - cum.c < qs.q * ng.n
), est AS (
  SELECT hit.g, hit.q,
         round(stats.mn + ((stats.mx - stats.mn) / {_HQ_BINS}.0) * hit.bin
               + ((stats.mx - stats.mn) / {_HQ_BINS}.0)
                 * (hit.target - (hit.cc - hit.c)) / hit.c, 6) AS est_pctl
  FROM hit CROSS JOIN stats
), exact_wide AS (
  SELECT l_returnflag AS g,
         quantile_cont(l_extendedprice, 0.5) AS p0,
         quantile_cont(l_extendedprice, 0.95) AS p1,
         quantile_cont(l_extendedprice, 0.99) AS p2
  FROM lineitem GROUP BY g
), exact AS (
  SELECT g, 0.5 AS q, p0 AS exact_pctl FROM exact_wide
  UNION ALL SELECT g, 0.95, p1 FROM exact_wide
  UNION ALL SELECT g, 0.99, p2 FROM exact_wide
)
SELECT est.g AS l_returnflag, est.q AS q,
       est.est_pctl,
       round(exact.exact_pctl, 6) AS exact_pctl,
       round(abs(est.est_pctl - exact.exact_pctl), 6) AS abs_error
FROM est JOIN exact ON exact.g = est.g AND exact.q = est.q
ORDER BY l_returnflag, est.q
"""


@register("sketch_histogram_quantiles", oracle=HISTQ_ORACLE)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # r10 opt (§1a): three corpus passes consume this scan (min/max stats,
    # bin counts, exact percentile) and the fixture is a single-split file,
    # so all three — including the sort-heavy exact percentile buffers —
    # ran in ONE task each. One shared round-robin spread feeds all three;
    # every aggregate here is min/max/integer-count/exact-percentile, so
    # partitioning cannot move a value. (r11: a localCheckpoint here was
    # tried and rejected — it added ~1 s of build-time planning and exec
    # did not move; the passes already share the exchange.)
    li = li.repartition(spark.sparkContext.defaultParallelism)
    stats = li.agg(
        F.min("l_extendedprice").alias("mn"), F.max("l_extendedprice").alias("mx")
    )
    w_expr = (F.col("mx") - F.col("mn")) / float(_HQ_BINS)
    b = (
        li.crossJoin(F.broadcast(stats))
        .select(
            F.col("l_returnflag").alias("g"),
            F.least(
                F.floor((F.col("l_extendedprice") - F.col("mn")) / w_expr),
                F.lit(_HQ_BINS - 1),
            )
            .cast("long")
            .alias("bin"),
        )
        .groupBy("g", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wc = W.partitionBy("g").orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    cum = b.select("g", "bin", "c", F.sum("c").over(wc).alias("cc"))
    ng = b.groupBy("g").agg(F.sum("c").cast("double").alias("n"))
    qs = F.broadcast(
        stats.sparkSession.createDataFrame([(q,) for q in _HQ_QS], "q double")
    )
    hit = (
        cum.join(ng, "g")
        .crossJoin(qs)
        .where(
            (F.col("cc") >= F.col("q") * F.col("n"))
            & (F.col("cc") - F.col("c") < F.col("q") * F.col("n"))
        )
    )
    est = hit.crossJoin(F.broadcast(stats)).select(
        "g",
        "q",
        F.round(
            F.col("mn")
            + w_expr * F.col("bin")
            + w_expr
            * (F.col("q") * F.col("n") - (F.col("cc") - F.col("c")))
            / F.col("c"),
            6,
        ).alias("est_pctl"),
    )
    # r11 opt (guide §2.3/§2.4; VERDICT r10 #2): the exact percentile was
    # Spark's `percentile` ObjectAggregate — every raw value buffered into
    # per-task hash maps whose FINAL merge + sort ran single-threaded per
    # group (3 groups ⇒ 3 serial buffer merges, ~2 s of the query's wall).
    # Rework: aggregate (group, value) counts (parallel, map-side partial
    # agg), one cumulative-count window over DISTINCT values per group,
    # then reproduce Percentile.getPercentile bit-for-bit — position =
    # q * (N-1) in double, lower/higher = floor/ceil, value-at-index j =
    # first value whose cumulative count ≥ j+1, and the same three-branch
    # interpolation with the identical coefficient*value multiplication
    # order, so the pre-round doubles are bit-identical to the aggregate's.
    vc = (
        li.where(F.col("l_extendedprice").isNotNull())
        .groupBy(
            F.col("l_returnflag").alias("g"), F.col("l_extendedprice").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # one pass: the running count AND the group total are both window
    # functions over the same g-partitioning (one exchange, one sort), the
    # three q fractions are exploded literals, and the ≤2 binary-search hit
    # rows per (g, q) collapse via conditional mins — no joins, no second
    # execution of the distinct-value walk
    wv = W.partitionBy("g").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    wg = W.partitionBy("g")
    vcc = vc.select(
        "g",
        "v",
        "c",
        F.sum("c").over(wv).alias("cc"),
        F.sum("c").over(wg).alias("nn"),
    )
    q_arr = ", ".join(f"{q}D" for q in _HQ_QS)
    probe = vcc.select(
        "g",
        "v",
        "c",
        "cc",
        F.expr(f"explode(array({q_arr})) AS q"),
        (F.col("nn") - F.lit(1)).cast("double").alias("maxpos"),
    ).select(
        "g",
        "v",
        "c",
        "cc",
        "q",
        (F.col("q") * F.col("maxpos")).alias("pos"),
    ).select(
        "g",
        "v",
        "c",
        "cc",
        "q",
        "pos",
        F.floor("pos").alias("lower"),
        F.ceil("pos").alias("higher"),
    )
    lo_cond = (F.col("cc") >= F.col("lower") + 1) & (
        F.col("cc") - F.col("c") <= F.col("lower")
    )
    hi_cond = (F.col("cc") >= F.col("higher") + 1) & (
        F.col("cc") - F.col("c") <= F.col("higher")
    )
    exact = (
        probe.where(lo_cond | hi_cond)
        .groupBy("g", "q", "pos", "lower", "higher")
        .agg(
            F.min(F.when(lo_cond, F.col("v"))).alias("v_lo"),
            F.min(F.when(hi_cond, F.col("v"))).alias("v_hi"),
        )
        .select(
            "g",
            "q",
            F.when(
                (F.col("higher") == F.col("lower"))
                | (F.col("v_hi") == F.col("v_lo")),
                F.col("v_lo").cast("double"),
            )
            .otherwise(
                (F.col("higher").cast("double") - F.col("pos"))
                * F.col("v_lo").cast("double")
                + (F.col("pos") - F.col("lower").cast("double"))
                * F.col("v_hi").cast("double")
            )
            .alias("exact_pctl"),
        )
    )
    return (
        est.join(exact, ["g", "q"])
        .select(
            F.col("g").alias("l_returnflag"),
            "q",
            "est_pctl",
            F.round("exact_pctl", 6).alias("exact_pctl"),
            F.round(F.abs(F.col("est_pctl") - F.col("exact_pctl")), 6).alias(
                "abs_error"
            ),
        )
        .orderBy("l_returnflag", "q")
    )


# --------------------------------------------------------------------------
# Per-tenant count-min heavy hitters (round 4): the 4×1024 count-min
# sketch keyed PER SOURCE — the multi-tenant form (one fixed-size sketch
# per tenant, cells keyed (tenant, row, bucket), all still mergeable and
# map-side combinable; 100 TB state = 4096 bigints × tenants). Heavy
# hitters = tokens clearing 1/50 of their OWN source's stream; the exact
# count rides along so the ≥-overestimate law stays auditable per row.
# --------------------------------------------------------------------------
CM_PER_SRC_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
), counts AS (
  SELECT source, token, count(*) AS c FROM tok GROUP BY source, token
), totals AS (
  SELECT source, CAST(sum(c) AS DOUBLE) AS tot FROM counts GROUP BY source
), hashed AS (
  SELECT source, token, c, j, {_DUCK_CM_BUCKET} AS bucket
  FROM counts CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) u
), cells AS (
  SELECT source, j, bucket, CAST(sum(c) AS BIGINT) AS cell
  FROM hashed GROUP BY source, j, bucket
), est AS (
  SELECT h.source, h.token, max(h.c) AS exact_count, min(cells.cell) AS est_count
  FROM hashed h
  JOIN cells ON h.source = cells.source AND h.j = cells.j
            AND h.bucket = cells.bucket
  GROUP BY h.source, h.token
)
SELECT est.source, est.token,
       CAST(est.est_count AS BIGINT) AS est_count,
       CAST(est.exact_count AS BIGINT) AS exact_count
FROM est JOIN totals ON totals.source = est.source
WHERE CAST(est.est_count AS DOUBLE) >= totals.tot / 50.0
ORDER BY est.source, est_count DESC, est.token
"""


@register("sketch_cm_heavy_hitters_per_source", oracle=CM_PER_SRC_ORACLE)
def sketch_cm_heavy_hitters_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = materialize(
        docs.select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("c"))
    )  # cells + totals + estimate branches
    totals = counts.groupBy("source").agg(F.sum("c").cast("double").alias("tot"))
    hashed = counts.select(
        "source",
        "token",
        "c",
        F.explode(F.array([F.lit(j) for j in range(_CM_D)])).alias("j"),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit("|"), F.col("token"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _CM_W,
    )
    cells = hashed.groupBy("source", "j", "bucket").agg(
        F.sum("c").cast("long").alias("cell")
    )
    est = (
        hashed.join(cells, ["source", "j", "bucket"])
        .groupBy("source", "token")
        .agg(F.max("c").alias("exact_count"), F.min("cell").alias("est_count"))
    )
    return (
        est.join(F.broadcast(totals), "source")
        .where(F.col("est_count").cast("double") >= F.col("tot") / 50.0)
        .select(
            "source",
            "token",
            F.col("est_count").cast("long").alias("est_count"),
            F.col("exact_count").cast("long").alias("exact_count"),
        )
        .orderBy("source", F.col("est_count").desc(), "token")
    )


# --------------------------------------------------------------------------
# KMV / bottom-k distinct sketch (round 4): the order-statistics member of
# the sketch family (HLL = register maxima, count-min = cell minima,
# bitmap = exact bits; KMV = the k MINIMUM hash values). Estimator
# n̂ = (k−1)/v_(k) (Bar-Yossef et al. '02): if n uniform hashes land in
# [0,1), the k-th smallest sits near k/n. Bottom-k sets are MERGEABLE
# exactly like HLL registers — bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪
# bottom-k(B)) — the sketch-once/merge-later 100 TB pattern, pinned by a
# partial-merge pytest; unlike HLL the same sketch also yields set-
# similarity (KMV-Jaccard) for free. Hash = md5 13-hex-digit prefix as a
# [0,1) fraction (< 2^52, double-exact, engine-agnostic), so the k-th
# order statistic — and therefore the estimate — has an exact oracle.
# Groups with < k distinct keys report exactly (v_k undefined → exact n).
# --------------------------------------------------------------------------
_KMV_K = 32
_HEX13 = float(1 << 52)  # 16^13

KMV_ORACLE = f"""
WITH keys AS (
  SELECT DISTINCT o_orderpriority AS prio, o_custkey AS k FROM orders
), hashed AS (
  SELECT prio, k,
         CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 13)) AS BIGINT)
           / {_HEX13} AS v
  FROM keys
), ranked AS (
  SELECT prio, v, row_number() OVER (PARTITION BY prio ORDER BY v, k) AS rn
  FROM hashed
), exact AS (
  SELECT prio, CAST(count(*) AS BIGINT) AS n_exact FROM keys GROUP BY prio
), kth AS (
  SELECT prio, v AS vk FROM ranked WHERE rn = {_KMV_K}
)
SELECT exact.prio AS priority, n_exact,
       round(coalesce(({_KMV_K} - 1) / vk, CAST(n_exact AS DOUBLE)), 4)
         AS kmv_estimate,
       round((coalesce(({_KMV_K} - 1) / vk, CAST(n_exact AS DOUBLE)) - n_exact)
             / n_exact, 6) AS rel_error
FROM exact LEFT JOIN kth ON kth.prio = exact.prio
ORDER BY priority
"""


@register("sketch_kmv_distinct", oracle=KMV_ORACLE)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    keys = orders.select(
        F.col("o_orderpriority").alias("prio"), F.col("o_custkey").alias("k")
    ).distinct()
    keys = materialize(keys)  # exact + sketch branches
    hashed = keys.select(
        "prio", "k",
        (
            F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 13), 16, 10)
            .cast("long") / F.lit(_HEX13)
        ).alias("v"),
    )
    wr = W.partitionBy("prio").orderBy("v", "k")
    kth = (
        hashed.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == _KMV_K)
        .select("prio", F.col("v").alias("vk"))
    )
    exact = keys.groupBy("prio").agg(F.count(F.lit(1)).alias("n_exact"))
    est = F.coalesce(
        F.lit(_KMV_K - 1) / F.col("vk"), F.col("n_exact").cast("double")
    )
    return (
        exact.join(F.broadcast(kth), "prio", "left")
        .select(
            F.col("prio").alias("priority"),
            "n_exact",
            F.round(est, 4).alias("kmv_estimate"),
            F.round((est - F.col("n_exact")) / F.col("n_exact"), 6).alias(
                "rel_error"
            ),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# KMV-Jaccard set similarity (round 4): the free bonus of the bottom-k
# sketch that HLL cannot give — among the k minimum hashes of A ∪ B, the
# fraction of keys present in BOTH sides is an unbiased Jaccard estimate
# (the hash order is a uniform random permutation, so the union's bottom-k
# is a uniform sample of A ∪ B). Estimated vs exact Jaccard side by side
# for every priority pair: 10 rows, one distinct-key pass + one ranked
# union per pair space, membership via joins on the sampled keys only.
# --------------------------------------------------------------------------
KMV_JACCARD_ORACLE = f"""
WITH keys AS (
  SELECT DISTINCT o_orderpriority AS prio, o_custkey AS k FROM orders
), pairs AS (
  SELECT a.prio AS pa, b.prio AS pb
  FROM (SELECT DISTINCT prio FROM keys) a
  JOIN (SELECT DISTINCT prio FROM keys) b ON a.prio < b.prio
), un AS (
  SELECT pa, pb, k,
         max(CASE WHEN prio = pa THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN prio = pb THEN 1 ELSE 0 END) AS in_b
  FROM pairs JOIN keys ON prio IN (pa, pb)
  GROUP BY pa, pb, k
), hashed AS (
  SELECT pa, pb, k, in_a, in_b,
         CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 13)) AS BIGINT) AS v,
         row_number() OVER (
           PARTITION BY pa, pb
           ORDER BY CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 13)) AS BIGINT), k
         ) AS rn
  FROM un
), est AS (
  SELECT pa, pb,
         round(sum(CASE WHEN in_a + in_b = 2 THEN 1.0 ELSE 0.0 END)
               / count(*), 6) AS jaccard_est
  FROM hashed WHERE rn <= {_KMV_K} GROUP BY pa, pb
), exact AS (
  SELECT pa, pb,
         round(sum(CASE WHEN in_a + in_b = 2 THEN 1.0 ELSE 0.0 END)
               / count(*), 6) AS jaccard_exact
  FROM un GROUP BY pa, pb
)
SELECT est.pa AS prio_a, est.pb AS prio_b, jaccard_est, jaccard_exact
FROM est JOIN exact ON est.pa = exact.pa AND est.pb = exact.pb
ORDER BY prio_a, prio_b
"""


@register("sketch_kmv_jaccard", oracle=KMV_JACCARD_ORACLE)
def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    keys = orders.select(
        F.col("o_orderpriority").alias("prio"), F.col("o_custkey").alias("k")
    ).distinct()
    keys = materialize(keys)
    prios = keys.select("prio").distinct()
    pairs = (
        prios.select(F.col("prio").alias("pa"))
        .crossJoin(prios.select(F.col("prio").alias("pb")))
        .where(F.col("pa") < F.col("pb"))
    )
    un = (
        pairs.join(
            keys, (F.col("prio") == F.col("pa")) | (F.col("prio") == F.col("pb"))
        )
        .groupBy("pa", "pb", "k")
        .agg(
            F.max(F.when(F.col("prio") == F.col("pa"), 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("prio") == F.col("pb"), 1).otherwise(0)).alias("in_b"),
        )
    )
    un = materialize(un)  # est + exact branches
    v = F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 13), 16, 10).cast(
        "long"
    )
    wr = W.partitionBy("pa", "pb").orderBy(v, F.col("k"))
    both = F.when(F.col("in_a") + F.col("in_b") == 2, 1.0).otherwise(0.0)
    est = (
        un.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= _KMV_K)
        .groupBy("pa", "pb")
        .agg(F.round(F.sum(both) / F.count(F.lit(1)), 6).alias("jaccard_est"))
    )
    exact = un.groupBy("pa", "pb").agg(
        F.round(F.sum(both) / F.count(F.lit(1)), 6).alias("jaccard_exact")
    )
    return (
        est.join(exact, ["pa", "pb"])
        .select(
            F.col("pa").alias("prio_a"),
            F.col("pb").alias("prio_b"),
            "jaccard_est",
            "jaccard_exact",
        )
        .orderBy("prio_a", "prio_b")
    )


# --------------------------------------------------------------------------
# AMS F₂ sketch (round 4): the Alon-Matias-Szegedy '96 second-frequency-
# moment estimator — F₂ = Σᵢ fᵢ² is exactly the SELF-JOIN SIZE, the number
# a join planner wants before committing to a shuffle strategy on a skewed
# key. Each of 64 estimators keeps one counter Σᵢ fᵢ·sⱼ(i) with random
# signs sⱼ(i) = ±1; its square is an unbiased F₂ estimate, and the
# median-of-means over 8 groups of 8 tames the variance. Signs come from
# the 64 low bits of ONE md5 per key (engine-agnostic), the 64 counters
# are conditional sums in a single map-side-combined aggregation (the
# minhash 64-column shape), and the median of 8 means is the average of
# order statistics 4 and 5 — every step has an exact oracle.
# --------------------------------------------------------------------------
def _ams_sign_sql(j: int) -> str:
    nib = f"CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), {j // 4 + 1}, 1)) AS BIGINT)"
    bit = f"(({nib} // {1 << (j % 4)}) % 2)"
    return f"(2 * {bit} - 1)"


AMS_F2_ORACLE = f"""
WITH sums AS (
  SELECT {", ".join(f"sum({_ams_sign_sql(j)}) AS s{j}" for j in range(64))}
  FROM orders
), est AS (
  SELECT j, CAST(s AS DOUBLE) * CAST(s AS DOUBLE) AS x, j // 8 AS g
  FROM ({" UNION ALL ".join(f"SELECT {j} AS j, s{j} AS s FROM sums" for j in range(64))})
), means AS (
  SELECT g, avg(x) AS m FROM est GROUP BY g
), med AS (
  SELECT avg(m) AS ams FROM (
    SELECT m, row_number() OVER (ORDER BY m, g) AS rn FROM means
  ) WHERE rn IN (4, 5)
), exact AS (
  SELECT sum(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS f2 FROM (
    SELECT count(*) AS n FROM orders GROUP BY o_custkey
  )
)
SELECT CAST(f2 AS BIGINT) AS exact_f2,
       round(ams, 2) AS ams_estimate,
       round((ams - f2) / f2, 6) AS rel_error
FROM exact CROSS JOIN med
"""


@register("sketch_ams_f2_selfjoin", oracle=AMS_F2_ORACLE)
def sketch_ams_f2_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    # one md5 per row, materialized as a column (don't rely on CSE across
    # the 64 sign expressions), then 64 nibble-bit extracts
    hashed = orders.select(
        "o_custkey", F.md5(F.col("o_custkey").cast("string")).alias("h")
    )

    def sign(j: int):
        nib = F.conv(F.substring(F.col("h"), j // 4 + 1, 1), 16, 10).cast("long")
        bit = F.floor(nib / (1 << (j % 4))) % 2
        return 2 * bit - 1

    sums = hashed.agg(*[F.sum(sign(j)).alias(f"s{j}") for j in range(64)])
    stack_expr = ", ".join(f"{j}, s{j}" for j in range(64))
    est = sums.selectExpr(f"stack(64, {stack_expr}) AS (j, s)").select(
        "j",
        (F.col("s").cast("double") * F.col("s").cast("double")).alias("x"),
        (F.col("j") / 8).cast("long").alias("g"),
    )
    means = est.groupBy("g").agg(F.avg("x").alias("m"))
    # unpartitioned window over the 8 estimator-group means only — the
    # bounded-frame exemption (8 rows at any scale)
    med = (
        means.withColumn("rn", F.row_number().over(W.orderBy("m", "g")))
        .where(F.col("rn").isin(4, 5))
        .agg(F.avg("m").alias("ams"))
    )
    exact = (
        hashed.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n").cast("double") * F.col("n").cast("double")).alias("f2"))
    )
    return exact.crossJoin(F.broadcast(med)).select(
        F.col("f2").cast("long").alias("exact_f2"),
        F.round("ams", 2).alias("ams_estimate"),
        F.round((F.col("ams") - F.col("f2")) / F.col("f2"), 6).alias("rel_error"),
    )


# --------------------------------------------------------------------------
# Rolling 7-day distinct users via MERGED daily KMV partials (round 4):
# the payoff of sketch mergeability composed over time — each day keeps
# its bottom-k user-hash set once; a 7-day rolling distinct then merges
# 7 k-element arrays per day (flatten → distinct → sort → k-th order
# statistic) instead of re-scanning 7 days of raw events per output row,
# which is the only workable shape when a day is terabytes. If the
# merged distinct set has < k values, every contributing partial was
# complete, so the union is exact — reported as such. The exact rolling
# distinct (the events_sliding_7d_distinct shape) rides along as the
# audit column. Day-frame window is per-day rows (≤ tens of thousands of
# days at any scale — the bounded-frame exemption does NOT apply here;
# the window is PARTITIONED by nothing but operates on the day grain,
# documented like the seasonal-decomposition day-axis windows).
# --------------------------------------------------------------------------
KMV_ROLLING_ORACLE = f"""
WITH days AS (
  SELECT date_trunc('day', ts) AS d, user_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2, 3
), ranked AS (
  SELECT d, v, row_number() OVER (PARTITION BY d ORDER BY v, user_id) AS rn
  FROM days
), partials AS (
  SELECT d, list(v ORDER BY v) AS bk
  FROM ranked WHERE rn <= {_KMV_K} GROUP BY d
), exact_daily AS (
  SELECT d, list(DISTINCT user_id) AS us FROM days GROUP BY d
), merged AS (
  SELECT p.d,
         list_sort(list_distinct(flatten(
           list(p.bk) OVER (ORDER BY p.d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ))) AS mv,
         CAST(len(list_distinct(flatten(
           list(e.us) OVER (ORDER BY p.d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ))) AS BIGINT) AS exact_7d
  FROM partials p JOIN exact_daily e ON e.d = p.d
)
SELECT strftime(d, '%Y-%m-%d') AS day, exact_7d,
       round(CASE WHEN len(mv) < {_KMV_K}
                  THEN CAST(len(mv) AS DOUBLE)
                  ELSE ({_KMV_K} - 1) * CAST({_HEX13} AS DOUBLE) / mv[{_KMV_K}] END, 4)
         AS kmv_7d_estimate,
       round((CASE WHEN len(mv) < {_KMV_K}
                   THEN CAST(len(mv) AS DOUBLE)
                   ELSE ({_KMV_K} - 1) * CAST({_HEX13} AS DOUBLE) / mv[{_KMV_K}] END - exact_7d)
             / exact_7d, 6) AS rel_error
FROM merged
ORDER BY day
"""


@register("sketch_kmv_rolling_distinct", oracle=KMV_ROLLING_ORACLE)
def sketch_kmv_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    days = (
        ev.select(
            F.date_trunc("day", "ts").alias("d"),
            "user_id",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10
            ).cast("long").alias("v"),
        )
        .distinct()
    )
    days = materialize(days)  # partial + exact branches
    wr = W.partitionBy("d").orderBy("v", "user_id")
    partials = (
        days.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= _KMV_K)
        .groupBy("d")
        .agg(F.sort_array(F.collect_list("v")).alias("bk"))
    )
    exact_daily = days.groupBy("d").agg(F.collect_set("user_id").alias("us"))
    # day-grain rolling frame (see docstring note on the day-axis window)
    wd = W.orderBy("d").rowsBetween(-6, 0)
    merged = (
        partials.join(exact_daily, "d")
        .select(
            "d",
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("bk").over(wd)))
            ).alias("mv"),
            F.size(
                F.array_distinct(F.flatten(F.collect_list("us").over(wd)))
            ).cast("long").alias("exact_7d"),
        )
    )
    est = F.when(
        F.size("mv") < _KMV_K, F.size("mv").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1)) * F.lit(_HEX13) / F.element_at("mv", _KMV_K)
    )
    return merged.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "exact_7d",
        F.round(est, 4).alias("kmv_7d_estimate"),
        F.round((est - F.col("exact_7d")) / F.col("exact_7d"), 6).alias("rel_error"),
    ).orderBy("day")


# --------------------------------------------------------------------------
# DDSketch: mergeable quantiles with a RELATIVE-error guarantee.
#
# HLL answers distinct-count, count-min answers frequency, KMV answers
# Jaccard — DDSketch (Masson et al., VLDB'19) is the matching mergeable
# answer for quantiles: bucket i = ceil(ln x / ln gamma) with
# gamma = (1+a)/(1-a) guarantees every reported quantile is within
# relative error a of the true value, and bucket-count maps merge by plain
# addition. The 100 TB shape: per-partition (here per-priority "shard")
# histograms are map-side partials over ~600 integer keys total; the merge
# is a groupBy-sum over bucket ids; quantile extraction scans the merged
# ~600-row histogram once (an F.aggregate over a collected bucket array —
# sketch-sized, never data-sized). The exact values for the audit columns
# come from the distributed global ranking helper (no single-reducer
# window). a = 1% here; the pytest law-check asserts |rel_err| <= a.
# --------------------------------------------------------------------------

import math as _math

_DD_ALPHA = 0.01
_DD_GAMMA = (1.0 + _DD_ALPHA) / (1.0 - _DD_ALPHA)
_DD_LNG = _math.log(_DD_GAMMA)
_DD_QS = (0.5, 0.9, 0.99)

DDSKETCH_ORACLE = f"""
WITH shard AS (
  SELECT o_orderpriority AS shard,
         CAST(ceil(ln(o_totalprice) / {_DD_LNG!r}) AS BIGINT) AS i,
         COUNT(*) AS cnt
  FROM orders GROUP BY 1, 2
), merged AS (
  SELECT i, SUM(cnt) AS cnt FROM shard GROUP BY i
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM merged
), cum AS (
  SELECT i, SUM(cnt) OVER (ORDER BY i) AS c FROM merged
), qs AS (
  SELECT unnest([0.5, 0.9, 0.99]) AS q
), rk AS (
  SELECT q, CAST(floor(q * (n - 1)) AS BIGINT) + 1 AS r FROM qs, tot
), est AS (
  SELECT q, r,
         (SELECT min(i) FROM cum WHERE c >= r) AS bkt
  FROM rk
), ranked AS (
  SELECT o_totalprice AS v,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
  FROM orders
)
SELECT e.q, e.r AS rank,
       round(2.0 * power({_DD_GAMMA!r}, e.bkt) / ({_DD_GAMMA!r} + 1.0), 4)
         AS ddsketch_est,
       ranked.v AS exact_value,
       round((2.0 * power({_DD_GAMMA!r}, e.bkt) / ({_DD_GAMMA!r} + 1.0)
              - ranked.v) / ranked.v, 6) AS rel_err
FROM est e JOIN ranked ON ranked.rn = e.r
ORDER BY e.q
"""


@register("sketch_ddsketch_quantiles", oracle=DDSKETCH_ORACLE)
def sketch_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    # per-shard partials (mergeable unit), then the bucket-id merge
    shard = (
        orders.select(
            F.col("o_orderpriority").alias("shard"),
            F.ceil(F.log(F.col("o_totalprice")) / F.lit(_DD_LNG)).alias("i"),
        )
        .groupBy("shard", "i")
        .agg(F.count("*").alias("cnt"))
    )
    merged = shard.groupBy("i").agg(F.sum("cnt").alias("cnt"))
    sketch = merged.agg(
        F.sort_array(F.collect_list(F.struct("i", "cnt"))).alias("bks"),
        F.sum("cnt").cast("long").alias("n"),
    )
    qs = spark.createDataFrame([(q,) for q in _DD_QS], "q double")
    with_r = qs.crossJoin(F.broadcast(sketch)).withColumn(
        "rank", (F.floor(F.col("q") * (F.col("n") - 1)) + 1).cast("long")
    )
    # one linear scan of the ~600-entry bucket array per quantile
    zero = F.struct(
        F.lit(0).cast("long").alias("cum"), F.lit(None).cast("long").alias("bkt")
    )
    scan = F.aggregate(
        F.col("bks"),
        zero,
        lambda acc, x: F.when(acc.bkt.isNotNull(), acc).otherwise(
            F.struct(
                (acc.cum + x.cnt).alias("cum"),
                F.when(acc.cum + x.cnt >= F.col("rank"), x.i).alias("bkt"),
            )
        ),
    )
    est = with_r.select(
        "q",
        "rank",
        F.round(
            2.0 * F.pow(F.lit(_DD_GAMMA), scan.bkt.cast("double"))
            / F.lit(_DD_GAMMA + 1.0),
            4,
        ).alias("ddsketch_est"),
        (
            2.0 * F.pow(F.lit(_DD_GAMMA), scan.bkt.cast("double"))
            / F.lit(_DD_GAMMA + 1.0)
        ).alias("_raw_est"),
    )
    ranked = global_row_number(
        orders.select(F.col("o_totalprice").alias("v"), "o_orderkey"),
        ["v", "o_orderkey"],
        out_col="rn",
    ).select("v", "rn")
    return (
        est.join(ranked, est["rank"] == ranked["rn"])
        .select(
            "q",
            "rank",
            "ddsketch_est",
            F.col("v").alias("exact_value"),
            F.round((F.col("_raw_est") - F.col("v")) / F.col("v"), 6).alias("rel_err"),
        )
        .orderBy("q")
    )
