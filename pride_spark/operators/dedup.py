"""Deduplication operators for large-scale training-data pipelines.

All variants are shuffle-minimal DataFrame compositions:

- exact        — hash-groupBy on a content digest (one shuffle)
- minhash/LSH  — shingle → k min-hashes → band signatures → bucket
                 self-join (candidate pairs only; never all-pairs)
- ngram Jaccard— verified similarity on LSH candidates

Hash functions use ``md5`` (not ``xxhash64``) so a DuckDB oracle can
reproduce signatures bit-for-bit; swap to ``xxhash64`` at deployment for
throughput (same plan shape).  The engine-native substitute for the
reference's external MaraCluster clustering (SURVEY §2.14) is the same
MinHash+LSH pipeline applied to binned peak vectors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact content match (md5 digest).

    One hash-shuffle on the digest; at 100 TB this is the cheapest possible
    exact dedup (digest is 16 bytes vs full text in the shuffle).
    """
    digest = F.md5(F.col(text_col))
    w_min = (
        df.select(F.col(id_col), digest.alias("__digest"))
        .groupBy("__digest")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(w_min, id_col, "left_semi")


def word_shingles_sql(text_sql: str, n: int = 3) -> str:
    """Whitespace-token n-gram shingles (``array<string>``) of the SQL
    expression ``text_sql``, as SQL text parsed in one py4j call.

    ``sequence``+``slice`` keeps it JVM-side; empty/short docs yield the
    whole-document singleton so they still participate.
    """
    words = r"split(trim(" + text_sql + r"), '\\s+')"
    return (
        f"transform(sequence(1, greatest(size({words}) - {n - 1}, 1)), "
        f"i -> array_join(slice({words}, i, {n}), ' '))"
    )


def word_shingles(text_col: str, n: int = 3) -> Column:
    """:func:`word_shingles_sql` over the column named ``text_col``."""
    return F.expr(word_shingles_sql(f"`{text_col}`", n))


def shingle_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    *,
    distinct: bool = False,
) -> DataFrame:
    """(id, sh) word-n-gram shingle rows via posexplode + window ``lead``.

    Same shingles as :func:`word_shingles` (incl. the whole-document
    singleton for short/empty texts: ``concat_ws`` skips the null leads),
    but every step is whole-stage codegen — the in-row
    ``transform(sequence, slice+array_join)`` tree runs interpreted and
    measured 3× slower at sf0.1.  Cost model: ONE shuffle of the word
    rows (≈ corpus bytes) keyed by id, vs zero shuffles + interpreted CPU
    for the in-row form — the standard distributed-shingling trade; at
    100 TB the window shuffle co-partitions with the downstream per-id
    aggregation, which then needs no additional exchange.

    ``distinct=True`` dedups (id, sh) — REQUIRED for voting consumers
    (SimHash counts each distinct shingle once); min-style consumers
    (MinHash) skip it, since duplicate shingles cannot change a min.
    """
    # SQL-text rendering throughout (r14, the r13 simhash technique):
    # the Column-API form cost ~250 py4j round trips of pure plan
    # construction per call; the parsed expressions are identical
    # (verified with tools/plan_normdiff.py against the Column form).
    words = df.selectExpr(
        f"`{id_col}` AS id",
        r"posexplode(split(trim(`" + text_col + r"`), '\\s+')) AS (pos, w)",
    )
    over = "OVER (PARTITION BY id ORDER BY pos)"
    leads = ["w"] + [f"lead(w, {k}) {over}" for k in range(1, n)]
    # keep-row predicate, derived from the LAST lead instead of a second
    # (count-over-id) window pass (r13): a full n-gram exists iff
    # lead(n-1) is non-null (pos ≤ nw-n); the whole-document singleton for
    # short docs (nw < n) is exactly the pos==0 row, where that lead is
    # null.  Same rows as the old ``pos <= greatest(nw-n, 0)`` filter —
    # for nw ≥ n the two predicates coincide (split elements are never
    # null, so lead(n-1) null ⇔ pos > nw-n), for nw < n both keep only
    # pos==0 — with one Window node instead of two.
    sh = (
        words.selectExpr(
            "id",
            "pos",
            f"concat_ws(' ', {', '.join(leads)}) AS sh",
            f"{leads[-1]} AS __last",
        )
        .filter("__last IS NOT NULL OR pos = 0")
        .select("id", "sh")
    )
    return sh.distinct() if distinct else sh


# Chunked md5: hash i = 8-hex-char (32-bit) chunk i%4 of md5(f"{i//4}|" + shingle).
# One md5 yields FOUR independent 32-bit min-hash values: md5 output bits
# are uniform and independent, and 32 bits is ample for a min-hash value
# domain, so this quarters the md5 invocations AND the signature width vs
# one full digest per hash — md5 is the dominant map-side cost of
# near-dedup at scale.  Fixed-length lowercase hex compares like the
# number it encodes, in any engine (the DuckDB oracles mirror this
# SUBSTR(MD5(..)) derivation exactly).
def minhash_signatures_df(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 8,
    shingle_n: int = 3,
    carry: dict[str, Column] | None = None,
) -> DataFrame:
    """Per-document MinHash signature via shingle rows + groupBy-min.

    The scalable shape: shingle rows come from the codegen window form
    (:func:`shingle_rows`; no distinct — duplicates cannot change a min),
    each md5 digest is computed ONCE and split into four 32-bit chunk
    hashes (explicit two-step select so the digest is never recomputed
    per chunk), and the signature is a single ``min``
    aggregation that reuses the window's id-partitioning — no second
    exchange.  Output: (id, mh0..mh{k-1}).

    ``carry`` (optional): extra per-row Columns evaluated on the INPUT
    frame (e.g. a text digest) and attached to the output by name.  They
    ride the id frame of the null-preservation join that already exists,
    so consumers needing (signature, digest) per id — incremental dedup's
    sides — pay ZERO additional joins.
    """
    n_digests = (num_hashes + 3) // 4
    sh = shingle_rows(df, text_col, id_col, shingle_n)
    # The per-hash column families are rendered as SQL text and parsed
    # JVM-side in one call each (r13's lit_vec/simhash technique): the
    # Column-API loops cost ~6-10 py4j round trips per column — a pure
    # plan-CONSTRUCTION tax that cProfile put at ~1 s/run on the LSH
    # queries (r13 verdict task #2).  The parsed expressions are
    # identical: md5/concat/substring/min over literal names.
    digests = sh.selectExpr(
        "id",
        *[f"md5(concat('{d}|', sh)) AS d{d}" for d in range(n_digests)],
    )
    hashed = digests.selectExpr(
        "id",
        *[f"substring(d{i // 4}, {(i % 4) * 8 + 1}, 8) AS h{i}" for i in range(num_hashes)],
    )
    aggs = hashed.groupBy("id").agg(
        *[F.expr(f"min(h{i}) AS mh{i}") for i in range(num_hashes)]
    )
    # Null-text docs produce zero shingle rows and would vanish; the q23
    # oracle's LIST_MIN aggregate keeps them with NULL signature values —
    # preserve every input id the same way.  The join is id-keyed and
    # narrow; on corpora without null text it is a no-op row-wise.
    ids = df.select(
        F.col(id_col).alias("id"),
        *[c.alias(n) for n, c in (carry or {}).items()],
    )
    return ids.join(aggs, "id", "left")


def _band_digests_sql(num_hashes: int, bands: int) -> str:
    """SQL text of the per-band bucket digests (md5 of the signature band
    slice) as one ``array<string>``, element ``b`` for band ``b``.  The
    ONE definition of the banding key — shared by
    :func:`lsh_candidate_pairs` (join key + first-collision array) and
    :func:`lsh_bucket_stats`: the stats are only meaningful if they hash
    the EXACT same banding the join uses (and the q24 DuckDB oracle
    mirrors this expression)."""
    rows = num_hashes // bands
    return "array(" + ", ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"mh{i}" for i in range(b * rows, (b + 1) * rows))
        + "))"
        for b in range(bands)
    ) + ")"


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = None,
    payload: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs ``(id_a < id_b)``.

    ``payload`` (optional): an ``(id, extra...)`` frame joined onto the
    per-id banding frame so every emitted pair carries ``{col}_a`` /
    ``{col}_b`` for each extra column.  This is how
    :func:`near_dedup_minhash` gets text digests onto the pairs WITHOUT a
    post-hoc join that would re-shuffle the (potentially huge) pair set
    by id — the payload rides the banding rows (one id-keyed join of
    n-row frames, +payload bytes per banded row) instead.  Keep payload
    columns narrow.

    Signature is split into ``bands`` bands of ``num_hashes/bands`` rows;
    docs agreeing on any full band land in one bucket.  The self-join is on
    the (band, bucket-digest) key — shuffle size is O(docs·bands), never
    O(docs²).  AQE skew splitting balances moderately skewed buckets, but a
    bucket with m members still emits m² candidate pairs — on adversarial
    corpora (m boilerplate-identical docs) that term is quadratic no matter
    how it is split.  ``max_bucket`` caps it: buckets larger than the cap
    are dropped before the join (a window count over the same key the join
    shuffles on), and first-collision falls through to the first SURVIVING
    agreeing band, so a pair is lost only when every band it agrees in is
    over-cap.  Docs dropped that way are mutually near-identical with
    overwhelming probability, so downstream exact-dedup or a re-run at a
    tighter shingle size covers them; use :func:`lsh_bucket_stats` to
    measure the dropped volume.
    """
    sigs = minhash_signatures_df(
        df, text_col, id_col, num_hashes=num_hashes, shingle_n=shingle_n
    )
    # Carry the whole band-digest array on every banded row so the join can
    # apply FIRST-COLLISION-WINS: a pair agreeing in several bands is
    # emitted only from the first agreeing band.  Same pair set as
    # emit-everywhere + distinct, but the join output shrinks ~bands× and
    # the pair-level distinct shuffle disappears entirely (the dominant
    # cost at 64× duplicate skew: 312s → see STRESS_r03).  With a
    # max_bucket cap, CAPPED bands are masked to NULL in the carried
    # digest array, so first-agreement falls through to the first
    # SURVIVING agreeing band: a pair loses nothing to the cap unless
    # EVERY agreeing band is over-cap (in which case its members are
    # mutually near-identical and covered by exact dedup upstream).
    # SQL-text rendering throughout (r14): identical parsed expressions
    # (tools/plan_normdiff.py), a fraction of the py4j plan-build calls.
    # null-signature rows (null-text docs, preserved by
    # minhash_signatures_df for oracle parity) must not enter banding:
    # their band digest would be the md5 of "" — a CONSTANT that sweeps
    # every null doc into one bucket per band — where the oracle's NULL
    # buckets never equi-join.
    perid = sigs.filter("mh0 IS NOT NULL").selectExpr(
        "id", f"{_band_digests_sql(num_hashes, bands)} AS digs"
    )
    if max_bucket is not None:
        # cap + null-masked band rebuild (shared lsh_common primitives:
        # a capped band can never be the first agreement, so
        # first-collision falls through to the first SURVIVING band)
        from pride_spark.operators.lsh_common import cap_buckets, rebuild_masked_digests

        banded0 = perid.selectExpr("id", "posexplode(digs) AS (band, bucket)")
        perid = rebuild_masked_digests(
            cap_buckets(banded0, ["band", "bucket"], max_bucket),
            id_cols=["id"],
            bands=bands,
        )
    extra = [c for c in payload.columns if c != "id"] if payload is not None else []
    if payload is not None:
        perid = perid.join(payload, "id")
    banded = perid.selectExpr(
        "id", "digs", *extra, "posexplode(digs) AS (band, bucket)"
    ).filter("bucket IS NOT NULL")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            F.expr("a.band = b.band AND a.bucket = b.bucket AND a.id < b.id"),
        )
        .filter(
            "array_position(zip_with(a.digs, b.digs, (x, y) -> x = y), true)"
            " = a.band + 1"
        )
        .selectExpr(
            "a.id AS id_a",
            "b.id AS id_b",
            *[f"a.{c} AS {c}_a" for c in extra],
            *[f"b.{c} AS {c}_b" for c in extra],
        )
    )


def lsh_bucket_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> dict:
    """Diagnostic job: bucket-size distribution and the row volume a
    ``max_bucket`` cap would drop.  One aggregate pass; run it when tuning
    the cap or auditing what a capped run skipped."""
    sigs = minhash_signatures_df(df, text_col, id_col, num_hashes=num_hashes, shingle_n=shingle_n)
    # same null-signature exclusion as the join path (see lsh_candidate_pairs)
    banded = sigs.filter("mh0 IS NOT NULL").selectExpr(
        f"posexplode({_band_digests_sql(num_hashes, bands)}) AS (band, bucket)"
    )
    sizes = banded.groupBy("band", "bucket").agg(F.count("*").alias("n"))
    row = sizes.agg(
        F.count("*").alias("buckets"),
        F.max("n").alias("max_size"),
        F.sum(F.when(F.col("n") > max_bucket, F.col("n")).otherwise(0)).alias("dropped_rows"),
        F.sum(F.when(F.col("n") > max_bucket, 1).otherwise(0)).alias("dropped_buckets"),
    ).first()
    return {k: (row[k] or 0) for k in ("buckets", "max_size", "dropped_rows", "dropped_buckets")}


def jaccard_of_sets_sql(sa: str, sb: str) -> str:
    """Jaccard of two pre-deduplicated arrays (two empty sets → 0.0), as
    SQL text over the SQL expressions ``sa``/``sb``.

    The union SIZE is computed arithmetically (|a| + |b| − |a∩b|, valid
    because the inputs are deduplicated) instead of materializing an
    ``array_union`` per pair — the verify join runs this once per
    candidate pair, and the union-array allocation measured ~8% of q48
    when this helper briefly replaced the clustering path's inline form."""
    inter = f"CAST(size(array_intersect({sa}, {sb})) AS DOUBLE)"
    union = f"(CAST((size({sa}) + size({sb})) AS DOUBLE) - {inter})"
    return f"CASE WHEN {union} > 0 THEN {inter} / {union} ELSE 0.0D END"


def near_dedup_minhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.8,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full near-dedup: LSH candidates → exact Jaccard verify → pairs ≥ threshold.

    The verify join carries pre-computed distinct shingle SETS (computed once
    per doc), so per-pair work is one hash-set intersect — not a re-parse of
    both texts.  ``max_bucket`` is the adversarial-skew cap (see
    :func:`lsh_candidate_pairs`).
    """
    # Exact-duplicate short-circuit: equal text digests ⇒ identical shingle
    # sets ⇒ jaccard is exactly 1.0 — no set ops, and the (wide) shingle
    # arrays are never shipped to those pairs.  On duplicate-heavy corpora
    # (web-scale dedup, where exact copies dominate the candidate mass)
    # this removes the quadratic × per-pair array-intersect term: the 64×
    # adversarial corpus verifies in a digest compare per pair.  The
    # digests ride the banding rows as a lsh_candidate_pairs payload, so
    # pairs emerge with dg_a/dg_b already attached — no post-hoc join
    # that would re-shuffle the (huge, on adversarial corpora) pair set.
    payload = df.selectExpr(f"`{id_col}` AS id", f"md5(`{text_col}`) AS dg")
    pairs = lsh_candidate_pairs(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n, max_bucket=max_bucket, payload=payload,
    )
    # The eq/neq branches below both scan ``pairs``; persist the (narrow:
    # two ids + two 32-char digests) frame so the candidate subtree — the
    # dominant cost — executes once.  Size is bounded by the candidate
    # count, which the bucket cap bounds on adversarial corpora.  The
    # returned plan reads it, so it stays pinned until the caller's
    # ``session.pinned_scope()`` exit (wrap call+action) or
    # ``session.release_cached_state``.
    from pyspark.storagelevel import StorageLevel

    from pride_spark.session import register_pinned

    pairs = register_pinned(pairs.persist(StorageLevel.MEMORY_AND_DISK))
    same = F.expr("coalesce(dg_a = dg_b, false)")
    eq = pairs.filter(same).selectExpr("id_a", "id_b", "1.0D AS jaccard")
    # Only the differing-digest remainder — tiny on duplicate-heavy
    # corpora — joins the shingle sets for the exact Jaccard.  Each side
    # is SEMI-FILTERED to the ids those pairs actually need before the
    # shingle arrays are built, so the (wide) set projection runs on the
    # survivors, not the whole corpus.
    need = pairs.filter(~same).select("id_a", "id_b")

    def _sets(side: str) -> DataFrame:
        ids = need.selectExpr(f"{side} AS `{id_col}`").distinct()
        return df.join(ids, id_col, "left_semi").selectExpr(
            f"`{id_col}` AS {side}",
            f"array_distinct({word_shingles_sql(f'`{text_col}`', shingle_n)})"
            f" AS sh_{side}",
        )

    neq = (
        need.join(_sets("id_a"), "id_a")
        .join(_sets("id_b"), "id_b")
        .withColumn(
            "jaccard", F.expr(f"round({jaccard_of_sets_sql('sh_id_a', 'sh_id_b')}, 6)")
        )
        .select("id_a", "id_b", "jaccard")
    )
    return eq.unionByName(neq).filter(F.col("jaccard") >= threshold)


def _simhash_hash_sql(sh: str, variant: str) -> tuple[str, int]:
    """(per-shingle hash SQL over ``sh``, bit count) of a SimHash variant.

    ``"md5"``: the first 15 hex chars of md5 — bit-reproducible in any
    engine with md5 (the DuckDB oracle for q35 recomputes it exactly);
    60 bits keep the hash inside signed-long range on both engines.
    Anything else: xxhash64, 63 bits — faster, but Spark-specific, so
    cross-engine oracle parity is impractical (unit tests + rows-only
    driver check)."""
    if variant == "md5":
        return f"CAST(conv(substring(md5({sh}), 1, 15), 16, 10) AS BIGINT)", 60
    return f"xxhash64({sh})", 63


def _simhash_fold(text_col: str, variant: str, shingle_n: int) -> Column:
    """In-row SimHash over the word shingles of the column named
    ``text_col``: for each bit position, sum ±1 votes across the distinct
    shingle hashes and take the sign.

    Pure higher-order-function expression (no UDF), computed in ONE pass
    over the shingle array: the accumulator is the whole n-bit vote
    vector (``zip_with`` inside ``aggregate``), instead of one
    ``aggregate`` per bit — per-bit folds made this ~60× slower at
    sf0.1.  The final fold packs votes MSB-first via ``value*2 + bit``,
    which stays inside signed-long range for ≤63 bits (ANSI mode rejects
    the overflowing 64th).  NULL text → NULL hash (not the accidental
    all-zero fold the NULL votes would otherwise produce), matching
    :func:`simhash_df`."""
    t = f"`{text_col}`"
    hash_sql, n_bits = _simhash_hash_sql("s", variant)
    hashes = f"transform(array_distinct({word_shingles_sql(t, shingle_n)}), s -> {hash_sql})"
    bits = ", ".join(
        f"CAST((shiftrightunsigned(h, {b}) & 1) AS BIGINT)"
        for b in range(n_bits - 1, -1, -1)  # MSB first
    )
    votes = (
        f"aggregate({hashes}, array_repeat(CAST(0 AS BIGINT), {n_bits}), "
        f"(acc, h) -> zip_with(acc, array({bits}), (a, x) -> a + x * 2 - 1))"
    )
    packed = (
        f"aggregate({votes}, CAST(0 AS BIGINT), "
        "(acc, v) -> acc * 2 + CASE WHEN v > 0 THEN 1 ELSE 0 END)"
    )
    return F.expr(f"CASE WHEN {t} IS NOT NULL THEN {packed} END")


def simhash64(text_col: str, shingle_n: int = 2) -> Column:
    """63-bit SimHash built from xxhash64 bit votes (see
    :func:`_simhash_fold`)."""
    return _simhash_fold(text_col, "xx64", shingle_n)


def simhash_md5(text_col: str, shingle_n: int = 2) -> Column:
    """60-bit SimHash whose per-shingle hash is md5-derived — the
    oracle-able variant of :func:`simhash64` (see
    :func:`_simhash_hash_sql`)."""
    return _simhash_fold(text_col, "md5", shingle_n)


def simhash_df(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    variant: str = "md5",
    shingle_n: int = 2,
) -> DataFrame:
    """SimHash as an explode → vote-sum aggregation — the hot-path shape.

    Same bits as the in-row fold variants (:func:`simhash64` /
    :func:`simhash_md5`), but the ±1 votes per bit are n_bits parallel
    conditional SUMs over exploded shingle hashes: codegen + map-side
    partial aggregation instead of an interpreted per-row fold that
    allocates an n_bits-long vote array per shingle step.  Measured ~10%
    at sf0.1 (shingle generation is the shared interpreted floor) growing
    to ~30% on a 64× corpus — the gap widens with data because the
    aggregation combines map-side while the fold's cost is pure per-row
    interpretation.  One shuffle of (id, n_bits longs).
    ``word_shingles`` emits ≥1 shingle for any NON-NULL text, so for those
    the explode is total; NULL-text docs yield zero shingle rows
    (posexplode of a null split) and are restored by an id-keyed left
    join with NULL simhash — matching the in-row fold variants, which
    emit NULL for null text.  Output: (id, simhash).
    """
    hash_sql, n_bits = _simhash_hash_sql("sh", variant)
    exploded = shingle_rows(df, text_col, id_col, shingle_n, distinct=True).selectExpr(
        "id", f"{hash_sql} AS h"
    )
    # The per-bit vote sums and the bit packing are rendered as SQL text
    # and parsed JVM-side (r13, the lit_vec technique): the Column-API
    # form cost ~800 py4j round trips (~1.1 s of pure plan CONSTRUCTION
    # per run — measured equal to the whole execution).  Expressions are
    # identical after parsing: `&` on (bigint, int) promotes to bigint
    # exactly like bitwiseAND(lit(1)).cast("long"), and the packed CASE
    # chain folds left-associated like the Column `+` loop.
    votes = exploded.groupBy("id").agg(
        *[
            F.expr(f"sum((shiftrightunsigned(h, {b}) & 1) * 2 - 1) AS v{b}")
            for b in range(n_bits)
        ]
    )
    packed = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b}L ELSE 0L END)" for b in range(n_bits)
    )
    hashed = votes.select("id", F.expr(packed).alias("simhash"))
    # NULL-text docs produced zero shingle rows; restore them with NULL
    # simhash (the in-row fold variants also yield NULL there).  Exactly
    # the ``text IS NULL`` rows vanish (word_shingles emits ≥1 shingle for
    # any non-null text), so a union of that predicate-pushed scan is the
    # cheap equivalent of an id-keyed left join back.
    nulls = df.filter(F.col(text_col).isNull()).select(
        F.col(id_col).alias("id"), F.lit(None).cast("long").alias("simhash")
    )
    return hashed.unionByName(nulls)
