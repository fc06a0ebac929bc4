"""Deduplication queries over ``documents`` (driver brief: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup).

The MinHash/SimHash oracles reproduce every signature bit in DuckDB via
the portable md5-derived hash (functions/hashing.py) — the strongest
possible correctness check for sketch-based dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dedup.exact import _content_key
from ..dedup.minhash import minhash_dup_pairs, minhash_signature
from ..dedup.ngram import ngram_jaccard_pairs
from ..dedup.simhash import simhash64
from ..similarity.ann import _as_double_array
from ..sources.catalog import load_table

# DuckDB fragments -------------------------------------------------------

_DUCK_TOKENS = (
    "CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) "
    "ELSE string_split_regex(trim(lower(text)), '\\s+') END"
)

# 3-gram shingle set (matches functions/hashing.py shingles(n=3)).
_DUCK_SHINGLES = (
    "list_distinct([array_to_string(toks[i:i+2], ' ') "
    "for i in generate_series(1, greatest(len(toks) - 2, 1))])"
)


def _duck_hash(expr: str, seed: str = "0") -> str:
    """Portable 60-bit hash, mirroring portable_hash64."""
    return f"('0x' || substr(md5({seed} || '|' || {expr}), 1, 15))::BIGINT"


# --- exact dedup ---------------------------------------------------------

def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_docs, n_unique) under content-key normalization — the scalar
    report of exact dedup (full groups query in dedup/exact.py)."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(_content_key("text").alias("content_key"))
    return keyed.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("content_key").alias("n_unique"),
    )


DEDUP_EXACT_SQL = """
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))) AS n_unique
FROM documents
"""


# --- minhash signatures (bit-exact oracle) -------------------------------

_NUM_PERM = 8


def dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First minhash component per document + shingle count — pins the
    whole shingle→hash→min pipeline bit-for-bit against DuckDB."""
    d = load_table(spark, sf_dir, "documents")
    sigs = minhash_signature(d, num_perm=_NUM_PERM, shingle_n=3)
    return sigs.select(
        "doc_id",
        F.size("shingles").cast("long").alias("n_shingles"),
        F.col("sig")[0].alias("minhash_0"),
        F.col("sig")[1].alias("minhash_1"),
        F.col("sig")[7].alias("minhash_7"),
    )


def _duck_minhash_item(i: int) -> str:
    """Permutation i of the base-hash list (mirrors dedup/minhash.py:
    one md5 pass, then (a·h + b) mod M)."""
    from ..dedup.minhash import MINHASH_MOD, perm_params

    a, b = perm_params(i)
    return (
        f"list_min(list_transform(hashed, h -> ({a} * h + {b}) % {MINHASH_MOD}))"
    )


def _duck_hashed_cte() -> str:
    from ..dedup.minhash import MINHASH_MOD

    return (
        f"SELECT doc_id, shingles, "
        f"list_transform(shingles, s -> {_duck_hash('s', chr(39) + '0' + chr(39))} % {MINHASH_MOD}) AS hashed "
        f"FROM sh"
    )


DEDUP_MINHASH_SIG_SQL = f"""
WITH base AS (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents),
sh AS (SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM base),
hs AS ({_duck_hashed_cte()})
SELECT doc_id,
  CAST(len(shingles) AS BIGINT) AS n_shingles,
  {_duck_minhash_item(0)} AS minhash_0,
  {_duck_minhash_item(1)} AS minhash_1,
  {_duck_minhash_item(7)} AS minhash_7
FROM hs
"""


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-banded near-dup pairs, exact-Jaccard verified (threshold 0.2).
    Fully oracle-checked: the portable 60-bit hash makes the signatures
    engine-identical, the band hash is md5 over the same comma-joined
    signature slices, and the verify Jaccard is exact — so DuckDB
    reproduces the entire band → bucket → verify pipeline."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_dup_pairs(
        d, num_perm=_NUM_PERM, bands=4, shingle_n=3, jaccard_threshold=0.2
    ).select("id_a", "id_b", F.round("jaccard", 9).alias("jaccard"))


def _duck_minhash_pairs_sql() -> str:
    rows_per_band = _NUM_PERM // 4
    sig_items = ", ".join(_duck_minhash_item(i) for i in range(_NUM_PERM))
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5(concat_ws(',', {parts})) AS band_hash FROM sig".format(
            b=b,
            parts=", ".join(
                f"CAST(sig[{b * rows_per_band + i + 1}] AS VARCHAR)"
                for i in range(rows_per_band)
            ),
        )
        for b in range(4)
    )
    return f"""
WITH base AS (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents),
sh AS (SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM base),
hs AS ({_duck_hashed_cte()}),
sig AS (SELECT doc_id, shingles, [{sig_items}] AS sig FROM hs),
banded AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(sa.shingles, sb.shingles)) AS inter,
         len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)) AS uni
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b,
       ROUND(CASE WHEN uni > 0 THEN CAST(inter AS DOUBLE) / uni ELSE 0.0 END, 9) AS jaccard
FROM pairs
WHERE CASE WHEN uni > 0 THEN CAST(inter AS DOUBLE) / uni ELSE 0.0 END >= 0.2
"""


# --- minhash estimator-error audit ----------------------------------------


def dedup_minhash_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR-ERROR audit — the measurement that tells you
    whether num_perm is big enough before you dedup 100 TB with it: for
    every LSH candidate pair, the signature-agreement estimate
    (matches/8) sits next to the EXACT shingle Jaccard, grouped by
    match count into an error profile (n_pairs, mean exact ppm, mean
    absolute error ppm — all exact integer arithmetic). A estimator
    drifting from its ±1/√k envelope here means biased signatures
    (hash collisions, skewed shingles) — caught on a sample, not after
    a corpus-wide mis-dedup.

    Scale shape: same banded candidate generation as
    dedup_minhash_pairs (singleton buckets dropped before the join;
    the salting/cap guards live in minhash_dup_pairs for adversarial
    corpora); signatures and shingles move only for candidate pairs."""
    from pyspark.sql import Window

    from ..dedup.minhash import minhash_signature

    d = load_table(spark, sf_dir, "documents")
    rows_per_band = _NUM_PERM // 4
    sigs = minhash_signature(d, num_perm=_NUM_PERM, shingle_n=3).persist()
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[i].cast("string")
                                    for i in range(
                                        b * rows_per_band, (b + 1) * rows_per_band
                                    )
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")
    w_bucket = Window.partitionBy("band_id", "band_hash")
    joinable = (
        banded.withColumn("_df", F.count(F.lit(1)).over(w_bucket))
        .filter(F.col("_df") >= 2)
    )
    a = joinable.alias("a")
    b = joinable.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    s = sigs.select("doc_id", "sig", "shingles")
    pairs = cand.join(
        s.select(
            F.col("doc_id").alias("id_a"),
            F.col("sig").alias("sig_a"),
            F.col("shingles").alias("sh_a"),
        ),
        "id_a",
    ).join(
        s.select(
            F.col("doc_id").alias("id_b"),
            F.col("sig").alias("sig_b"),
            F.col("shingles").alias("sh_b"),
        ),
        "id_b",
    )
    scored = pairs.select(
        F.expr(
            "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1L, 0L)),"
            " 0L, (acc, v) -> acc + v)"
        ).alias("matches"),
        F.expr(
            "IF(size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b)) > 0,"
            " (1000000L * size(array_intersect(sh_a, sh_b)))"
            " div (size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b))),"
            " 0L)"
        ).alias("exact_ppm"),
    ).withColumn(
        "est_ppm", F.expr(f"(1000000 * matches) div {_NUM_PERM}")
    )
    return (
        scored.groupBy("matches", "est_ppm")
        .agg(
            F.count("*").alias("n_pairs"),
            F.expr("sum(exact_ppm) div count(1)").alias("mean_exact_ppm"),
            F.expr("sum(ABS(est_ppm - exact_ppm)) div count(1)").alias(
                "mean_abs_err_ppm"
            ),
        )
        .orderBy("matches")
    )


def _duck_minhash_audit_sql() -> str:
    rows_per_band = _NUM_PERM // 4
    sig_items = ", ".join(_duck_minhash_item(i) for i in range(_NUM_PERM))
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5(concat_ws(',', {parts})) AS band_hash FROM sig".format(
            b=b,
            parts=", ".join(
                f"CAST(sig[{b * rows_per_band + i + 1}] AS VARCHAR)"
                for i in range(rows_per_band)
            ),
        )
        for b in range(4)
    )
    idx = ", ".join(str(i + 1) for i in range(_NUM_PERM))
    return f"""
WITH base AS (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents),
sh AS (SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM base),
hs AS ({_duck_hashed_cte()}),
sig AS (SELECT doc_id, shingles, [{sig_items}] AS sig FROM hs),
banded AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
scored AS (
  SELECT
    CAST(list_sum(list_transform([{idx}],
         i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS BIGINT)
      AS matches,
    CAST(CASE WHEN len(sa.shingles) + len(sb.shingles)
                   - len(list_intersect(sa.shingles, sb.shingles)) > 0
         THEN (1000000 * len(list_intersect(sa.shingles, sb.shingles)))
              // (len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles)))
         ELSE 0 END AS BIGINT) AS exact_ppm
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b
)
SELECT matches,
       CAST((1000000 * matches) // {_NUM_PERM} AS BIGINT) AS est_ppm,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(exact_ppm) // COUNT(*) AS BIGINT) AS mean_exact_ppm,
       CAST(SUM(ABS((1000000 * matches) // {_NUM_PERM} - exact_ppm))
            // COUNT(*) AS BIGINT) AS mean_abs_err_ppm
FROM scored
GROUP BY matches
ORDER BY matches
"""


DEDUP_MINHASH_AUDIT_SQL = _duck_minhash_audit_sql()


# --- cross-run dedup against a persisted MinHash index --------------------

_INC_JACCARD_PPM = 200_000  # exact-verify admission threshold (0.2)


def _band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) LSH rows — the compact shape a
    persisted dedup index stores (same banding as minhash_dup_pairs)."""
    rows_per_band = _NUM_PERM // 4
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[i].cast("string")
                                    for i in range(
                                        b * rows_per_band,
                                        (b + 1) * rows_per_band,
                                    )
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")


def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run dedup against a PERSISTED MinHash index — the
    production LLM-corpus admission shape: an already-admitted corpus
    owns an on-disk LSH band index; each new batch is signed, PROBED
    against the index (never against the raw corpus), exact-verified
    against the document store for the candidates only, and the
    survivors' band rows are appended as the next index version.

    Staged here as two real index publishes around a real disk
    roundtrip: (run 1) the base corpus (doc_id % 5 ≠ 0) builds index
    v0 via the atomic-marker sink (streaming/upsert_sink.py); (run 2)
    the incoming batch (doc_id % 5 = 0) probes the index READ BACK
    FROM PARQUET — so the gated values prove the persisted bytes, not
    a cached plan — rejects any doc whose banded candidate match
    exact-verifies at Jaccard ≥ 0.2, and publishes v1 with the
    admitted docs' band rows appended.

    Batch-internal duplicates are admitted by contract (admission
    checks the INDEX only — order-free, so the result is a pure
    function of the corpus and both engines agree); the next run's
    probe catches them, exactly like production incremental admission.

    Scale: the index stores 4 compact rows/doc; probing is one hash
    join on (band_id, band_hash) — batch × index, never corpus ×
    corpus; exact verify touches candidate pairs only; the append is
    admitted-batch-sized. Nothing rescans admitted history.
    Signatures are computed ONCE for the whole table and split, so
    the corpus is shingled in a single pass."""
    import shutil
    import tempfile

    from ..dedup.minhash import minhash_signature
    from ..streaming.upsert_sink import VersionedParquetTable

    d = load_table(spark, sf_dir, "documents")
    sigs = minhash_signature(d, num_perm=_NUM_PERM, shingle_n=3).persist()
    is_new = F.pmod(F.col("doc_id"), F.lit(5)) == 0
    base_banded = _band_rows(sigs.filter(~is_new))
    inc_banded = _band_rows(sigs.filter(is_new))

    scratch = tempfile.mkdtemp(prefix="bigdata_spark_mhidx_")
    try:
        index = VersionedParquetTable(spark, f"{scratch}/index")
        index.publish(base_banded)  # run 1: build + persist v0

        idx = index.read()  # run 2 starts from the PERSISTED bytes
        rows_before = idx.count()
        cand = (
            inc_banded.alias("n")
            .join(
                idx.alias("o"),
                on=[
                    F.col("n.band_id") == F.col("o.band_id"),
                    F.col("n.band_hash") == F.col("o.band_hash"),
                ],
            )
            .select(
                F.col("n.doc_id").alias("new_id"),
                F.col("o.doc_id").alias("old_id"),
            )
            .dropDuplicates(["new_id", "old_id"])
        )
        sh = sigs.select("doc_id", "shingles")
        verified = (
            cand.join(
                sh.select(
                    F.col("doc_id").alias("new_id"),
                    F.col("shingles").alias("sh_n"),
                ),
                "new_id",
            )
            .join(
                sh.select(
                    F.col("doc_id").alias("old_id"),
                    F.col("shingles").alias("sh_o"),
                ),
                "old_id",
            )
            .filter(
                F.expr(
                    "IF(size(sh_n) + size(sh_o)"
                    " - size(array_intersect(sh_n, sh_o)) > 0,"
                    " (1000000L * size(array_intersect(sh_n, sh_o)))"
                    " div (size(sh_n) + size(sh_o)"
                    "      - size(array_intersect(sh_n, sh_o))), 0L)"
                    f" >= {_INC_JACCARD_PPM}"
                )
            )
        )
        # rejected is doc-id-grain tiny, but its lineage is the band
        # probe + exact verify — persist so the v1 publish and the
        # stats aggregate don't each re-run the candidate join
        rejected = verified.select("new_id").distinct().persist()
        incoming_ids = sigs.filter(is_new).select(
            F.col("doc_id").alias("new_id")
        )
        admitted = incoming_ids.join(rejected, "new_id", "left_anti")
        index.publish(
            idx.unionByName(
                inc_banded.join(
                    admitted.select(F.col("new_id").alias("doc_id")),
                    "doc_id",
                )
            )
        )
        final = VersionedParquetTable(spark, f"{scratch}/index")
        stats = (
            incoming_ids.agg(
                F.count("*").alias("n_incoming"),
                F.coalesce(F.sum("new_id"), F.lit(0)).alias("sum_incoming_ids"),
            )
            .crossJoin(
                rejected.agg(
                    F.count("*").alias("n_rejected"),
                    F.coalesce(F.sum("new_id"), F.lit(0)).alias(
                        "sum_rejected_ids"
                    ),
                )
            )
            .crossJoin(
                sigs.filter(~is_new).agg(F.count("*").alias("n_base"))
            )
            .select(
                "n_base",
                "n_incoming",
                "n_rejected",
                (F.col("n_incoming") - F.col("n_rejected")).alias(
                    "n_admitted"
                ),
                "sum_incoming_ids",
                "sum_rejected_ids",
                F.lit(rows_before).cast("long").alias("index_rows_before"),
                F.lit(final.read().count())
                .cast("long")
                .alias("index_rows_after"),
                F.lit(int(final.current_version()) + 1)
                .cast("long")
                .alias("n_versions"),
            )
            .localCheckpoint()
        )
        return stats
    finally:
        sigs.unpersist()
        try:
            rejected.unpersist()
        except NameError:
            pass
        shutil.rmtree(scratch, ignore_errors=True)


def _duck_minhash_incremental_sql() -> str:
    rows_per_band = _NUM_PERM // 4
    sig_items = ", ".join(_duck_minhash_item(i) for i in range(_NUM_PERM))
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5(concat_ws(',', {parts})) AS band_hash FROM sig".format(
            b=b,
            parts=", ".join(
                f"CAST(sig[{b * rows_per_band + i + 1}] AS VARCHAR)"
                for i in range(rows_per_band)
            ),
        )
        for b in range(4)
    )
    return f"""
WITH base AS (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents),
sh AS (SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM base),
hs AS ({_duck_hashed_cte()}),
sig AS (SELECT doc_id, shingles, [{sig_items}] AS sig FROM hs),
banded AS ({band_rows}),
oldb AS (SELECT * FROM banded WHERE doc_id % 5 <> 0),
newb AS (SELECT * FROM banded WHERE doc_id % 5 = 0),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
  FROM newb n JOIN oldb o
    ON n.band_id = o.band_id AND n.band_hash = o.band_hash
),
rej AS (
  SELECT DISTINCT c.new_id
  FROM cand c
  JOIN sh sn ON sn.doc_id = c.new_id
  JOIN sh so ON so.doc_id = c.old_id
  WHERE CASE WHEN len(sn.shingles) + len(so.shingles)
                  - len(list_intersect(sn.shingles, so.shingles)) > 0
        THEN (1000000 * len(list_intersect(sn.shingles, so.shingles)))
             // (len(sn.shingles) + len(so.shingles)
                 - len(list_intersect(sn.shingles, so.shingles)))
        ELSE 0 END >= {_INC_JACCARD_PPM}
),
counts AS (
  SELECT
    (SELECT COUNT(*) FROM documents WHERE doc_id % 5 <> 0) AS n_base,
    (SELECT COUNT(*) FROM documents WHERE doc_id % 5 = 0) AS n_incoming,
    (SELECT COUNT(*) FROM rej) AS n_rejected,
    (SELECT COALESCE(SUM(doc_id), 0) FROM documents
      WHERE doc_id % 5 = 0) AS sum_incoming_ids,
    (SELECT COALESCE(SUM(new_id), 0) FROM rej) AS sum_rejected_ids
)
SELECT CAST(n_base AS BIGINT) AS n_base,
       CAST(n_incoming AS BIGINT) AS n_incoming,
       CAST(n_rejected AS BIGINT) AS n_rejected,
       CAST(n_incoming - n_rejected AS BIGINT) AS n_admitted,
       CAST(sum_incoming_ids AS BIGINT) AS sum_incoming_ids,
       CAST(sum_rejected_ids AS BIGINT) AS sum_rejected_ids,
       CAST(4 * n_base AS BIGINT) AS index_rows_before,
       CAST(4 * (n_base + n_incoming - n_rejected) AS BIGINT)
         AS index_rows_after,
       CAST(2 AS BIGINT) AS n_versions
FROM counts
"""


DEDUP_MINHASH_INCREMENTAL_SQL = _duck_minhash_incremental_sql()


# --- simhash (bit-exact oracle) ------------------------------------------

def dedup_simhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed 60-bit simhash per document — exact cross-engine value."""
    from ..operators.parallelism import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", simhash64(F.col("text")).alias("simhash"))


_POWERS = ", ".join(str(1 << i) for i in range(60))

DEDUP_SIMHASH_SQL = f"""
WITH base AS (
  SELECT doc_id, list_distinct({_DUCK_TOKENS}) AS toks FROM documents
), hashed AS (
  SELECT doc_id, list_transform(toks, t -> {_duck_hash('t')}) AS hs FROM base
)
SELECT doc_id,
  CAST(list_sum([CASE WHEN 2 * len(list_filter(hs, h -> (h & p) != 0)) > len(hs)
                      THEN p ELSE 0 END
                 for p in [{_POWERS}]]) AS BIGINT) AS simhash
FROM hashed
"""


# --- n-gram jaccard pairs -------------------------------------------------

def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard pairs within same-lang buckets (threshold
    0.15). Jaccard via |∩| and |A|+|B|−|∩| — identical arithmetic in the
    oracle."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, bucket_col="lang", shingle_n=3, threshold=0.15
    ).select("id_a", "id_b", F.round("jaccard", 9).alias("jaccard"))


DEDUP_NGRAM_SQL = f"""
WITH base AS (SELECT doc_id, lang, {_DUCK_TOKENS} AS toks FROM documents),
sh AS (SELECT doc_id, lang, {_DUCK_SHINGLES} AS shingles FROM base)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  ROUND(CASE WHEN len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)) > 0
    THEN CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
    ELSE 0.0 END, 9) AS jaccard
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE CASE WHEN len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)) > 0
    THEN CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
    ELSE 0.0 END >= 0.15
"""


# --- SemDeDup: embedding-cluster semantic dedup --------------------------

def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (dedup/semantic.py): seeded k-means clusters + within-
    cluster keep-lowest-id cosine dedup. The quantizer isn't
    SQL-expressible, so the oracle pins structural invariants
    (every one a TRUE column) plus the SQL-exact corpus count; the
    invariants are recomputed from the actual result, not assumed."""
    from ..dedup.semantic import semantic_dedup, semantic_dup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    # persist + eager count: the pair table feeds THREE consumers
    # (drop marking, justification anti-join, min-cosine) inside one
    # fused job, and concurrent stages cannot share an in-flight
    # cache — each would re-score every candidate pair. One cheap
    # count() action materializes the cache first, so the expensive
    # cosine scoring runs exactly once (measured 45 s → ~15 s at sf1).
    pairs = semantic_dup_pairs(e, n_clusters=16, threshold=0.35).persist()
    pairs.count()
    marked = semantic_dedup(e, n_clusters=16, threshold=0.35, pairs=pairs)
    counts = marked.agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_dropped").cast("long")).alias("n_dropped"),
    )
    # every dropped id must be justified by a pair naming it as id_b
    unjustified = (
        marked.filter("is_dropped")
        .join(
            pairs.select(F.col("id_b").alias("vec_id")).distinct(),
            "vec_id",
            "left_anti",
        )
        .agg(F.count("*").alias("unjustified"))
    )
    min_cos = pairs.agg(F.min("cosine").alias("min_cos"))
    # one lazy row: all invariants as expressions over crossJoined
    # scalar aggregates — a single Spark job at action time
    return (
        counts.crossJoin(unjustified)
        .crossJoin(min_cos)
        .select(
            F.col("n").alias("n_vecs"),
            (F.col("n_dropped") + (F.col("n") - F.col("n_dropped")) == F.col("n"))
            .alias("partition_complete"),
            (F.col("unjustified") == 0).alias("drops_justified"),
            F.coalesce(F.col("min_cos") >= 0.35, F.lit(True))
            .alias("pairs_meet_threshold"),
            (F.col("n_dropped") < F.col("n")).alias("kept_nonempty"),
        )
    )


DEDUP_SEMANTIC_SQL = """
SELECT (SELECT COUNT(*) FROM embeddings) AS n_vecs,
       TRUE AS partition_complete, TRUE AS drops_justified,
       TRUE AS pairs_meet_threshold, TRUE AS kept_nonempty
"""


# --- duplicated-substring windows (Lee et al. suffix-array analog) -------

_SUBSTR_K = 10


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated k-token-window fraction (dedup/substring.py):
    the distributed, linear analog of suffix-array substring dedup —
    a rolling-hash inverted index, never pairwise."""
    from ..dedup.substring import duplicate_window_stats

    d = load_table(spark, sf_dir, "documents")
    return duplicate_window_stats(d, k=_SUBSTR_K)


DEDUP_SUBSTR_SQL = f"""
WITH base AS (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents),
occ AS (
  SELECT doc_id,
         md5(array_to_string(
           toks[CAST(i + 1 AS BIGINT):CAST(i + {_SUBSTR_K} AS BIGINT)], ' ')) AS wh
  FROM base, UNNEST(range(0, greatest(len(toks) - {_SUBSTR_K} + 1, 0))) AS t(i)
),
per_doc AS (SELECT doc_id, wh, COUNT(*) AS c FROM occ GROUP BY 1, 2),
gcounts AS (SELECT wh, SUM(c) AS g FROM per_doc GROUP BY 1),
stats AS (
  SELECT p.doc_id,
         CAST(SUM(p.c) AS BIGINT) AS n_windows,
         CAST(SUM(CASE WHEN gl.g >= 2 THEN p.c ELSE 0 END) AS BIGINT) AS n_dup
  FROM per_doc p JOIN gcounts gl USING (wh) GROUP BY 1
)
SELECT b.doc_id,
       COALESCE(s.n_windows, 0) AS n_windows,
       COALESCE(s.n_dup, 0) AS n_dup,
       ROUND(CASE WHEN COALESCE(s.n_windows, 0) > 0
             THEN CAST(s.n_dup AS DOUBLE) / s.n_windows
             ELSE 0.0 END, 9) AS dup_frac
FROM base b LEFT JOIN stats s USING (doc_id)
"""


# --- degenerate-bucket skew stress ---------------------------------------

_STRESS_N = 1000
_STRESS_TEXT = (
    "all rights reserved copyright notice terms of service apply "
    "unsubscribe from this newsletter by clicking the link below"
)


def dedup_skew_stress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VERDICT r3 #4 stress: 1,000 IDENTICAL boilerplate documents —
    every shingle has df = 1000, the exact shape that put m² candidate
    pairs on ONE reducer before the round-4 skew guard. With the guard,
    hot shingles salt across 16 reducers (each holding ~1000×63 rows of
    fan-out) and the full 499,500-pair result still materializes
    exactly. The output is an aggregate fingerprint of the pair set
    (count, id checksum, jaccard bounds) so the gate compares 1 row,
    not half a million."""
    docs = spark.range(_STRESS_N).select(
        F.col("id").alias("doc_id"), F.lit(_STRESS_TEXT).alias("text")
    )
    pairs = ngram_jaccard_pairs(
        docs, threshold=0.5, shingle_n=3, hot_token_df=64, n_salts=16
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("id_a") + F.col("id_b")).alias("id_checksum"),
        F.min("jaccard").alias("min_jac"),
        F.max("jaccard").alias("max_jac"),
    )


DEDUP_SKEW_STRESS_SQL = f"""
SELECT COUNT(*) AS n_pairs,
       CAST(SUM(a.i + b.i) AS BIGINT) AS id_checksum,
       CAST(1.0 AS DOUBLE) AS min_jac,
       CAST(1.0 AS DOUBLE) AS max_jac
FROM range({_STRESS_N}) a(i) JOIN range({_STRESS_N}) b(i) ON a.i < b.i
"""


# --- embedding-cosine near-dup -------------------------------------------

# LSH bucketing parameters for dedup_embedding_pairs: the bucket key is
# an UNSUPERVISED random-hyperplane signature (real corpora have no
# `label` column), with the deterministic md5-derived planes shared by
# similarity/ann.py so the DuckDB oracle can inline the same constants.
_EMB_DIM = 64
_EMB_PLANES = 4
_EMB_THRESHOLD = 0.35


def _emb_planes() -> list[list[float]]:
    from ..similarity.ann import _hyperplane

    return [_hyperplane(_EMB_DIM, p) for p in range(_EMB_PLANES)]


def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup embeddings: random-hyperplane LSH buckets (unsupervised
    — no label needed), exact cosine ≥ threshold within bucket. The
    signature shrinks the candidate set ~2^planes-fold, which is the
    100 TB shape; the threshold is tuned to the synthetic table so the
    oracle's expected set is non-empty at sf0.01.

    Norms are precomputed per row (not per pair): cosine becomes one
    dot-product fold + a division with the identical IEEE operation
    order as the naive formula (sqrt(Σa²)·sqrt(Σb²) is the same value
    whether computed before or after the join), so the oracle still
    matches bit-for-bit while the pair stage does 3× less work."""
    from ..functions.distances import dot_product, l2_norm
    from ..operators.parallelism import ensure_parallelism

    e = load_table(spark, sf_dir, "embeddings")
    sig = F.lit(0)
    for p, plane in enumerate(_emb_planes()):
        plane_col = F.array(*[F.lit(x) for x in plane])
        sig = sig + F.when(
            dot_product(_as_double_array("embedding"), plane_col) >= 0, F.lit(1 << p)
        ).otherwise(F.lit(0))
    v = ensure_parallelism(
        e.select(
            "vec_id", _as_double_array("embedding").alias("v"), sig.alias("sig")
        ).withColumn("nrm", l2_norm(F.col("v"))),
        force=True,
    )
    a, b = v.alias("a"), v.alias("b")
    den = F.col("a.nrm") * F.col("b.nrm")
    cos = F.when(den != 0.0, dot_product(F.col("a.v"), F.col("b.v")) / den).otherwise(
        F.lit(0.0)
    )
    # threshold in the ON clause after the cheap conjuncts — same
    # pushdown-ordering trap as ngram_jaccard_pairs
    return a.join(
        b,
        on=[
            F.col("a.sig") == F.col("b.sig"),
            F.col("a.vec_id") < F.col("b.vec_id"),
            F.round(cos, 9) >= _EMB_THRESHOLD,
        ],
    ).select(
        F.col("a.vec_id").alias("id_a"),
        F.col("b.vec_id").alias("id_b"),
        F.round(cos, 9).alias("cosine"),
    )


# Matches functions/distances.cosine_similarity exactly: num / (‖a‖·‖b‖),
# same operation order so the doubles are bit-identical.
_DUCK_COS = """
  list_sum([CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE) for i in generate_series(1, len(a.v))])
  / (sqrt(list_sum([CAST(a.v[i] AS DOUBLE) * CAST(a.v[i] AS DOUBLE) for i in generate_series(1, len(a.v))]))
     * sqrt(list_sum([CAST(b.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE) for i in generate_series(1, len(b.v))])))
"""

def _duck_sig_expr() -> str:
    """The same random-hyperplane signature as the Spark side, with the
    plane constants inlined as DuckDB list literals (full-precision
    repr so the doubles are bit-identical)."""
    terms = []
    for p, plane in enumerate(_emb_planes()):
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        dp = (
            f"list_sum([CAST(embedding[i] AS DOUBLE) * ({lit})[i] "
            f"for i in generate_series(1, {_EMB_DIM})])"
        )
        terms.append(f"CASE WHEN {dp} >= 0 THEN {1 << p} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


DEDUP_EMB_SQL = f"""
WITH v AS (SELECT vec_id, embedding AS v, {_duck_sig_expr()} AS sig FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({_DUCK_COS}, 9) AS cosine
FROM v a JOIN v b ON a.sig = b.sig AND a.vec_id < b.vec_id
WHERE ROUND({_DUCK_COS}, 9) >= {_EMB_THRESHOLD}
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution: LSH/cosine candidate pairs →
    connected components (iterative min-label propagation,
    operators/graph.py) → per-cluster keeper selection (min id). This
    is the step that turns pairwise dedup output into the actual
    keep/drop decision a training pipeline applies. The oracle
    recomputes the same edges and closes them with a recursive CTE."""
    from ..operators.graph import dedup_cluster_stats

    pairs = dedup_embedding_pairs(spark, sf_dir).select("id_a", "id_b")
    return dedup_cluster_stats(pairs, "id_a", "id_b")


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE
v AS (SELECT vec_id, embedding AS v, {_duck_sig_expr()} AS sig FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.sig = b.sig AND a.vec_id < b.vec_id
  WHERE ROUND({_DUCK_COS}, 9) >= {_EMB_THRESHOLD}
),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
reach(vtx, r) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.vtx
),
labels AS (SELECT vtx AS vertex, MIN(r) AS component FROM reach GROUP BY vtx),
sizes AS (SELECT component, COUNT(*) AS cluster_size FROM labels GROUP BY component)
SELECT l.vertex, l.component, s.cluster_size, l.vertex = l.component AS is_keeper
FROM labels l JOIN sizes s USING (component)
"""


def dedup_stream_firstseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-time exact dedup (streaming/stateful.stream_dedup):
    one admission per content key across micro-batches with the min-id
    canonical keeper (order-independent, so batching layout cannot
    change the result), per-key drop counts in GroupState. The stream
    appends a deterministic duplicated slice (every 50th doc re-ingested
    under a shifted id) so the drop counter is genuinely exercised — the
    synthetic corpus has no exact dups at small SFs. The oracle is the
    batch equivalent: min id + count-1 per content key over the same
    unioned input."""
    import uuid

    from ..streaming.stateful import stream_dedup

    # the streaming file source wants a directory: scan sf_dir with a
    # glob filter that admits only the documents table
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )

    def with_dups(batches):
        import pandas as pd

        for pdf in batches:
            extra = pdf[pdf["doc_id"] % 50 == 0].copy()
            extra["doc_id"] = extra["doc_id"] + 1000000
            yield pd.concat([pdf, extra], ignore_index=True)

    docs = raw.select("doc_id", "text").mapInPandas(
        with_dups, "doc_id long, text string"
    )
    keyed = docs.select("doc_id", F.md5(F.col("text")).alias("content_key"))
    out = stream_dedup(keyed, "content_key", "doc_id")
    qname = "dedup_stream_" + uuid.uuid4().hex[:8]
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("dedup_stream_firstseen: stream did not finish in 300s")
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy(F.desc("dups_dropped"))
    return (
        spark.table(qname)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("key", "kept_id", "dups_dropped")
    )


DEDUP_STREAM_SQL = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0
)
SELECT md5(text) AS key, MIN(doc_id) AS kept_id,
       CAST(COUNT(*) - 1 AS BIGINT) AS dups_dropped
FROM all_docs GROUP BY 1
"""


def dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup corpus filtering — not just the stats: keep the
    lowest-doc_id representative of every content-key group and report
    per-source survivor counts. A deterministic duplicate wave
    (doc_id % 13 == 0, re-keyed +1,000,000) is unioned in first so the
    query exercises real drops at every SF (the sf0.01 corpus has no
    natural exact dups). Scale shape: one window over content_key —
    the same shuffle an exact-dedup groupBy would pay, no extra."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    dup_wave = d.filter(F.col("doc_id") % 13 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    corpus = d.unionByName(dup_wave)
    keyed = corpus.withColumn("content_key", _content_key("text"))
    w = Window.partitionBy("content_key").orderBy("doc_id")
    survivors = keyed.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") == 1
    )
    n_docs = corpus.groupBy("source").agg(F.count("*").alias("n_docs"))
    n_surv = survivors.groupBy("source").agg(F.count("*").alias("n_survivors"))
    return (
        n_docs.join(n_surv, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_survivors", F.lit(0)).alias("n_survivors"),
            (F.col("n_docs") - F.coalesce("n_survivors", F.lit(0))).alias("n_dropped"),
        )
    )


DEDUP_KEEP_ONE_SQL = """
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, source FROM documents WHERE doc_id % 13 = 0
),
keyed AS (
  SELECT source, doc_id,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS content_key
  FROM corpus
),
surv AS (
  SELECT source FROM (
    SELECT source, ROW_NUMBER() OVER (PARTITION BY content_key ORDER BY doc_id) AS rk
    FROM keyed
  ) WHERE rk = 1
),
d AS (SELECT source, COUNT(*) AS n_docs FROM corpus GROUP BY source),
s AS (SELECT source, COUNT(*) AS n_survivors FROM surv GROUP BY source)
SELECT d.source, d.n_docs,
       COALESCE(s.n_survivors, 0) AS n_survivors,
       d.n_docs - COALESCE(s.n_survivors, 0) AS n_dropped
FROM d LEFT JOIN s ON d.source = s.source
"""


def dedup_symspell_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 similarity self-join via the SymSpell
    deletion-neighborhood: each distinct name emits itself plus its
    |s| single-character deletions as join keys; two strings within
    one edit ALWAYS share a key (equal, insertion/deletion: one is a
    deletion of the other, substitution: both delete the differing
    position), so an EQUI-join on the key finds every candidate — no
    quadratic cross join, no length-band range join. Candidates dedupe
    then verify with the native Levenshtein kernel (JVM codegen).

    Scale shape: key expansion is a narrow flatMap (|s|+1 rows per
    name), the join is a plain hash shuffle on short string keys, and
    verification touches only candidates — the entity-resolution
    blocking pattern that survives 10^9 names where a levenshtein
    cross join cannot."""
    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    keys = names.select(
        F.col("p_name").alias("s"),
        F.explode(
            F.expr(
                "array_distinct(array_append("
                "transform(sequence(1, length(p_name)),"
                " i -> concat(substring(p_name, 1, i - 1), substring(p_name, i + 1))),"
                " p_name))"
            )
        ).alias("k"),
    )
    a = keys.alias("a")
    b = keys.alias("b")
    cand = (
        a.join(b, (F.col("a.k") == F.col("b.k")) & (F.col("a.s") < F.col("b.s")))
        .select(F.col("a.s").alias("name_a"), F.col("b.s").alias("name_b"))
        .distinct()
    )
    return (
        cand.withColumn(
            "edit_dist", F.levenshtein("name_a", "name_b").cast("long")
        )
        .filter(F.col("edit_dist") <= 1)
        .orderBy("name_a", "name_b")
    )


DEDUP_SYMSPELL_SQL = """
WITH n AS (SELECT DISTINCT p_name AS s FROM part),
keys AS (
  SELECT s,
         unnest(list_distinct(list_append(
           [substr(s, 1, i - 1) || substr(s, i + 1) for i in range(1, len(s) + 1)],
           s))) AS k
  FROM n
),
cand AS (
  SELECT DISTINCT a.s AS name_a, b.s AS name_b
  FROM keys a JOIN keys b ON a.k = b.k AND a.s < b.s
)
SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS BIGINT) AS edit_dist
FROM cand
WHERE levenshtein(name_a, name_b) <= 1
ORDER BY name_a, name_b
"""



# --- Directed containment (quote / subset near-duplication) ---------------

_CONT_THRESHOLD = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle CONTAINMENT |A∩B| / |A| ≥ 0.8 within same-lang
    buckets — the asymmetric cousin of Jaccard that catches what
    symmetric dedup misses: a short document (quote, boilerplate
    header, excerpt) embedded inside a much longer one, where Jaccard
    stays tiny because the union is dominated by the superset doc.

    Same distributed inverted-index shape as dedup_ngram_jaccard
    (explode → posting join on the shingle → group-count = exact
    intersection; singleton postings dropped), but no size-ratio
    prune — the whole point is size-asymmetric pairs — and pairs are
    DIRECTED (contained-side, container-side). Output: directed pairs
    with exact containment."""
    from pyspark.sql import Window

    from ..functions.hashing import shingles
    from ..operators.parallelism import ensure_parallelism

    d = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        force=True,
    )
    base = (
        d.select(
            "doc_id",
            "lang",
            F.size(shingles(F.col("text"), n=3)).alias("sz"),
            F.explode(shingles(F.col("text"), n=3)).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    # shared-token filter as an agg + semi-join, NOT a count window: a
    # (lang, tok) window gathers each posting list in one task, and
    # hot-shingle lists grow with the corpus; the semi-join shape is
    # partial-aggregated and AQE-skew-tolerant
    shared = (
        base.groupBy("lang", "tok")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") >= 2)
        .select("lang", "tok")
    )
    idx = base.join(
        shared.hint("shuffle_hash"), ["lang", "tok"], "left_semi"
    ).persist()
    a = idx.select(
        F.col("doc_id").alias("sub_id"), "lang", "tok", F.col("sz").alias("sub_sz")
    )
    b = idx.select(F.col("doc_id").alias("super_id"), "lang", "tok")
    return (
        a.join(b.hint("shuffle_hash"), ["lang", "tok"])
        .filter(F.col("sub_id") != F.col("super_id"))
        .groupBy("sub_id", "super_id", "sub_sz")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "containment", F.col("inter").cast("double") / F.col("sub_sz")
        )
        .filter(F.col("containment") >= _CONT_THRESHOLD)
        .select("sub_id", "super_id", F.round("containment", 9).alias("containment"))
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH base AS (SELECT doc_id, lang, {_DUCK_TOKENS} AS toks FROM documents),
sh AS (SELECT doc_id, lang, {_DUCK_SHINGLES} AS shingles FROM base)
SELECT a.doc_id AS sub_id, b.doc_id AS super_id,
       ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(a.shingles), 9) AS containment
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id <> b.doc_id
WHERE len(a.shingles) > 0
  AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / len(a.shingles) >= {_CONT_THRESHOLD}
"""

# ---------------------------------------------------------------------------
# llm_source_dedup_priority — cross-source dedup with a keep policy
# ---------------------------------------------------------------------------


def llm_source_dedup_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source corpus dedup with an explicit KEEP POLICY — the
    curation step of a multi-source training mix: when the same content
    arrives from several feeds, keep the copy from the most-trusted
    source (priority = the source's numeric rank, doc_id breaks ties)
    and account for who displaced whom. A deterministic cross-source
    duplicate wave (doc_id % 11 == 0, re-keyed +2e6, re-sourced to
    (id+3) mod 20) guarantees real cross-source collisions at every SF.

    Output is the displacement matrix (winner_source, loser_source,
    n_displaced) — the audit a data-vendor contract needs. Scale: one
    window over content_key, same shuffle as any exact dedup; the
    matrix is #sources² at most."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    wave = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        "text",
        F.concat(F.lit("src"), ((F.col("doc_id") + 3) % 20).cast("string"))
        .alias("source"),
    )
    corpus = d.select("doc_id", "text", "source").unionByName(wave)
    keyed = corpus.select(
        "doc_id",
        "source",
        F.expr("CAST(substring(source, 4) AS INT)").alias("priority"),
        _content_key("text").alias("content_key"),
    )
    w = Window.partitionBy("content_key").orderBy("priority", "doc_id")
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = keyed.select(
        "source",
        F.row_number().over(w).alias("rk"),
        F.first("source").over(w_all).alias("winner_source"),
    )
    return (
        ranked.filter(F.col("rk") > 1)
        .groupBy("winner_source", F.col("source").alias("loser_source"))
        .agg(F.count("*").alias("n_displaced"))
        .orderBy(F.desc("n_displaced"), "winner_source", "loser_source")
    )


LLM_SRC_DEDUP_SQL = """
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text, 'src' || CAST((doc_id + 3) % 20 AS VARCHAR)
  FROM documents WHERE doc_id % 11 = 0
),
keyed AS (
  SELECT doc_id, source, CAST(substr(source, 4) AS INT) AS priority,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
           AS content_key
  FROM corpus
),
ranked AS (
  SELECT source,
         ROW_NUMBER() OVER (PARTITION BY content_key
           ORDER BY priority, doc_id) AS rk,
         FIRST_VALUE(source) OVER (PARTITION BY content_key
           ORDER BY priority, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS winner_source
  FROM keyed
)
SELECT winner_source, source AS loser_source,
       COUNT(*) AS n_displaced
FROM ranked WHERE rk > 1
GROUP BY 1, 2
ORDER BY n_displaced DESC, winner_source, loser_source
"""


# ---------------------------------------------------------------------------
# dedup_capture_recapture — Lincoln-Petersen estimate of true dup-pair count
# ---------------------------------------------------------------------------

# single shared IEEE division over exact integers; NULL while the
# methods share no catches
_CRC_EST = (
    "CASE WHEN m = 0 THEN NULL ELSE"
    " CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(m AS DOUBLE) END"
)


def dedup_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many near-duplicate pairs does the corpus REALLY contain?
    Capture-recapture (Lincoln-Petersen) over two independent dedup
    methods: MinHash-LSH (threshold 0.2) is capture one, exact
    same-lang shingle-Jaccard (threshold 0.15) is capture two; pairs
    caught by both are the marked recaptures, and N̂ = n1·n2/m
    estimates the total pair population either method alone
    undercounts — the standard coverage audit when ground truth is
    unaffordable at corpus scale.

    Scale: both pair generators are the repo's existing bucketed plans
    (never all-pairs); the overlap is one join on the pair key. The
    estimate row carries exact integers plus the one shared division
    (milli-precision integer twin alongside)."""
    d = load_table(spark, sf_dir, "documents")
    # checkpoint both captures: each feeds its own count AND the
    # overlap join — without this the two heaviest dedup plans in the
    # module would execute twice. Lazy: the broadcast-subquery jobs of
    # the final action materialize each RDD exactly once (n2 runs over
    # b, m over a⋈b reusing b, n1 reuses a) — no dedicated
    # materialization jobs.
    a = minhash_dup_pairs(
        d, num_perm=_NUM_PERM, bands=4, shingle_n=3, jaccard_threshold=0.2
    ).select("id_a", "id_b").localCheckpoint(eager=False)
    b = ngram_jaccard_pairs(
        d, bucket_col="lang", shingle_n=3, threshold=0.15
    ).select("id_a", "id_b").localCheckpoint(eager=False)
    both = a.join(b, ["id_a", "id_b"])
    return (
        a.agg(F.count("*").alias("n1"))
        .crossJoin(F.broadcast(b.agg(F.count("*").alias("n2"))))
        .crossJoin(F.broadcast(both.agg(F.count("*").alias("m"))))
        .selectExpr(
            "n1",
            "n2",
            "m",
            "IF(m = 0, NULL, (1000 * n1 * n2) div m) AS est_pairs_milli",
            f"{_CRC_EST} AS est_pairs",
        )
    )


def _crc_sql() -> str:
    mh = _duck_minhash_pairs_sql().strip()
    ng = DEDUP_NGRAM_SQL.strip()
    return f"""
WITH a AS (SELECT id_a, id_b FROM ({mh})),
b AS (SELECT id_a, id_b FROM ({ng})),
n1t AS (SELECT COUNT(*) AS n1 FROM a),
n2t AS (SELECT COUNT(*) AS n2 FROM b),
mt AS (SELECT COUNT(*) AS m FROM a JOIN b USING (id_a, id_b))
SELECT n1, n2, m,
       CASE WHEN m = 0 THEN NULL
            ELSE (1000 * n1 * n2) // m END AS est_pairs_milli,
       {_CRC_EST} AS est_pairs
FROM n1t, n2t, mt
"""


# --- sorted-neighborhood dedup (SNM) --------------------------------------

_SNM_WINDOW = 3
_SNM_KEYLEN = 24
_SNM_THRESHOLD = 0.1
_SNM_TOPK = 20


def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup (Hernández/Stolfo): docs sort by a
    normalized 24-char prefix key, and only pairs within a 3-position
    window compare — the classic O(n·w) entity-resolution method that
    complements hash blocking (er_blocked_linkage) and LSH banding
    (dedup_minhash_pairs): it catches near-dups whose keys SORT
    together without hashing identically (typo'd prefixes, shared
    openings).

    Candidates verify with exact 3-gram shingle Jaccard computed
    natively (array_intersect over distinct shingles — the exact
    arithmetic of dedup_ngram_jaccard). The global sort rank is the
    method's defining cost, and it runs as the two-pass
    range-partitioned rank (operators/ranking.py:range_rank) over the
    SLIM (skey, doc_id) projection only — no single-partition
    exchange, and the shingle arrays never enter the rank; they join
    back by doc_id afterwards. A rank+δ equi-join then keeps the pair
    count at n·w. Top-20 by (jaccard, pair) is deterministic."""
    from bigdata_spark.operators.ranking import range_rank

    d = load_table(spark, sf_dir, "documents")

    norm = d.select(
        "doc_id",
        F.expr(
            f"substring(regexp_replace(trim(lower(text)), '\\\\s+', ' '),"
            f" 1, {_SNM_KEYLEN})"
        ).alias("skey"),
        F.expr(
            "CASE WHEN trim(lower(text)) = '' THEN CAST(array() AS ARRAY<STRING>)"
            " ELSE split(trim(lower(text)), '\\\\s+') END"
        ).alias("toks"),
    ).select(
        "doc_id",
        "skey",
        F.expr(
            "array_distinct(transform(sequence(1, greatest(size(toks) - 2, 1)),"
            " i -> array_join(slice(toks, i, 3), ' ')))"
        ).alias("shingles"),
    )
    slim_ranked = range_rank(
        norm.select("doc_id", "skey"), ["skey", "doc_id"]
    ).select("doc_id", "r")
    ranked = slim_ranked.join(norm.select("doc_id", "shingles"), "doc_id")
    deltas = spark.range(1, _SNM_WINDOW + 1).select(
        F.col("id").cast("int").alias("delta")
    )
    right = ranked.select(
        F.col("r").alias("rb"),
        F.col("doc_id").alias("id_b"),
        F.col("shingles").alias("sh_b"),
    )
    pairs = (
        ranked.crossJoin(F.broadcast(deltas))
        .withColumn("rb", F.col("r") + F.col("delta"))
        .join(right, "rb")
        .select(
            F.col("doc_id").alias("id_a"),
            "id_b",
            F.col("delta").alias("rank_gap"),
            F.expr(
                "CASE WHEN size(shingles) + size(sh_b)"
                " - size(array_intersect(shingles, sh_b)) > 0 THEN"
                " CAST(size(array_intersect(shingles, sh_b)) AS DOUBLE)"
                " / (size(shingles) + size(sh_b)"
                " - size(array_intersect(shingles, sh_b))) ELSE 0.0 END"
            ).alias("jaccard"),
        )
    )
    return (
        pairs.filter(F.col("jaccard") >= _SNM_THRESHOLD)
        .select(
            "id_a", "id_b", "rank_gap", F.round("jaccard", 9).alias("jaccard")
        )
        .orderBy(F.desc("jaccard"), "id_a", "id_b")
        .limit(_SNM_TOPK)
    )


DEDUP_SNM_SQL = f"""
WITH base AS (
  SELECT doc_id,
         substr(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
                1, {_SNM_KEYLEN}) AS skey,
         {_DUCK_TOKENS} AS toks
  FROM documents
), sh AS (
  SELECT doc_id, skey, {_DUCK_SHINGLES} AS shingles FROM base
), ranked AS (
  SELECT doc_id, shingles,
         ROW_NUMBER() OVER (ORDER BY skey, doc_id) AS r
  FROM sh
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(b.r - a.r AS INT) AS rank_gap,
         CASE WHEN len(a.shingles) + len(b.shingles)
                   - len(list_intersect(a.shingles, b.shingles)) > 0 THEN
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           / (len(a.shingles) + len(b.shingles)
              - len(list_intersect(a.shingles, b.shingles)))
         ELSE 0.0 END AS jaccard
  FROM ranked a JOIN ranked b
    ON b.r - a.r BETWEEN 1 AND {_SNM_WINDOW}
)
SELECT id_a, id_b, rank_gap, ROUND(jaccard, 9) AS jaccard
FROM pairs
WHERE jaccard >= {_SNM_THRESHOLD}
ORDER BY jaccard DESC, id_a, id_b
LIMIT {_SNM_TOPK}
"""


QUERIES = {
    "dedup_sorted_neighborhood": (dedup_sorted_neighborhood, DEDUP_SNM_SQL),
    "dedup_minhash_error_audit": (dedup_minhash_error_audit, DEDUP_MINHASH_AUDIT_SQL),
    "dedup_minhash_incremental": (
        dedup_minhash_incremental,
        DEDUP_MINHASH_INCREMENTAL_SQL,
    ),
    "llm_source_dedup_priority": (llm_source_dedup_priority, LLM_SRC_DEDUP_SQL),
    "dedup_capture_recapture": (dedup_capture_recapture, _crc_sql()),
    "dedup_symspell_join": (dedup_symspell_join, DEDUP_SYMSPELL_SQL),
    "dedup_keep_one": (dedup_keep_one, DEDUP_KEEP_ONE_SQL),
    "dedup_exact_stats": (dedup_exact_stats, DEDUP_EXACT_SQL),
    "dedup_stream_firstseen": (dedup_stream_firstseen, DEDUP_STREAM_SQL),
    "dedup_minhash_sig": (dedup_minhash_sig, DEDUP_MINHASH_SIG_SQL),
    "dedup_minhash_pairs": (dedup_minhash_pairs, _duck_minhash_pairs_sql()),
    "dedup_simhash_values": (dedup_simhash_values, DEDUP_SIMHASH_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_SQL),
    "dedup_containment": (dedup_containment, DEDUP_CONTAINMENT_SQL),
    "dedup_substring": (dedup_substring, DEDUP_SUBSTR_SQL),
    "dedup_semantic": (dedup_semantic, DEDUP_SEMANTIC_SQL),
    "dedup_skew_stress": (dedup_skew_stress, DEDUP_SKEW_STRESS_SQL),
    "dedup_embedding_pairs": (dedup_embedding_pairs, DEDUP_EMB_SQL),
    "dedup_clusters": (dedup_clusters, DEDUP_CLUSTERS_SQL),
}
