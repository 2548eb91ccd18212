"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from
SURVEY.md §2 (reference citation in each docstring); ``oracle_sql()``
is the DuckDB-equivalent ANSI SQL over the same parquet views.
Column names/aliases match pairwise; floats are rounded identically on
both sides.  Ops whose inputs aren't SQL-expressible (xxhash64 shingle
hashes, simhash signatures, the synthesized CDC tail) use the
side-file oracle pattern (see the section comment below), so every
query has a full rows+schema+hash check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship: CDC last-writer-wins replay over the events log
# (SURVEY.md §2.4 A4 + §2.1 S8 semantics on the driver's events table:
#  key=user_id, version=(ts, event_id), op: 'error' acts as delete)
# ---------------------------------------------------------------------------

def q_cdc_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = F.max(
        F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"), F.col("value"))
    ).alias("w")
    return (
        ev.groupBy("user_id")
        .agg(w)
        .filter(F.col("w.event_type") != "error")
        .select(
            "user_id",
            F.col("w.event_id").alias("last_event_id"),
            F.col("w.event_type").alias("last_event_type"),
            F.round(F.col("w.value"), 4).alias("last_value"),
            F.col("w.ts").alias("last_ts"),
        )
    )


_SQL_CDC = """
SELECT user_id,
       event_id   AS last_event_id,
       event_type AS last_event_type,
       round(value, 4) AS last_value,
       ts         AS last_ts
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 AND event_type <> 'error'
"""


# --------------------------- scans / filters -------------------------------

def q_change_scan_window(spark, sf_dir):
    """S1/P1/P5: ranged change scan with 3-col projection
    (CWS/QueryConstants.java:68-80)."""
    return (
        _t(spark, sf_dir, "events")
        .filter(
            (F.col("ts") > F.lit("2024-01-10 00:00:00"))
            & (F.col("ts") < F.lit("2024-01-20 00:00:00"))
        )
        .select("event_id", "user_id", "event_type", "ts")
    )


_SQL_SCAN = """
SELECT event_id, user_id, event_type, ts FROM events
WHERE ts > TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
"""


def q_initial_excludes_deletes(spark, sf_dir):
    """S2/P6: initial load excludes op='D' (QueryConstants.java:42,50)."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") != "error")
        .select("event_id", "user_id", "event_type")
    )


_SQL_NO_DELETES = """
SELECT event_id, user_id, event_type FROM events WHERE event_type <> 'error'
"""


def q_filter_predicates(spark, sf_dir):
    """P2/P3/P4: inequality + numeric + IN-list predicates
    (QueryConstants.java:22-23; LicenseNumberIdentifier.java:24-26)."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderstatus") != "F")
            & (F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
            & (F.col("o_totalprice") > 1000.0)
        )
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    )


_SQL_FILTERS = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM orders
WHERE o_orderstatus <> 'F'
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_totalprice > 1000.0
"""


def q_json_props(spark, sf_dir):
    """Scalar JSON extraction from the props payload column."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


_SQL_JSON = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k FROM events
"""


# ------------------------------- joins -------------------------------------

def q_multiway_left_join_distinct(spark, sf_dir):
    """J1: 3-table left join + disjunctive predicate + distinct keys
    (CAP/entity/UserId.java:35-39) — broadcast dims."""
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey, "left")
        .join(r, n.n_regionkey == r.r_regionkey, "left")
        .where(
            (F.col("c_acctbal") > 9000.0)
            | (F.col("n_name") == "NATION_3")
            | (F.col("r_name") == "REGION_1")
        )
        .select("c_custkey")
        .distinct()
    )


_SQL_J1 = """
SELECT DISTINCT c_custkey
FROM customer
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
WHERE c_acctbal > 9000.0 OR n_name = 'NATION_3' OR r_name = 'REGION_1'
"""


def q_semi_join_changed(spark, sf_dir):
    """J2: set-oriented semi-join of change keys to payload rows
    (CwsChangedUsersServiceImpl.java:33-45 batched IN → LEFT SEMI)."""
    li = _t(spark, sf_dir, "lineitem")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01")
    )
    return (
        li.join(recent, li.l_orderkey == recent.o_orderkey, "left_semi")
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


_SQL_SEMI = """
SELECT l_partkey, count(*) AS n_lines, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY l_partkey
"""


def q_anti_join_unprocessed(spark, sf_dir):
    """S3/P7: the audit job's ``processed = false`` guard re-expressed
    set-oriented — an anti-join of the base set against the applied
    set (AUD/NsAuditEventDao.java:24-39; SURVEY.md maps the processed
    flag to an anti-join vs the lineage table)."""
    c = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


_SQL_ANTI = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderpriority = '1-URGENT')
"""


def q_point_lookup_join(spark, sf_dir):
    """J3: per-key payload assembly as one hash join instead of N point
    lookups (BatchReadersPool.java:46-63)."""
    o = _t(spark, sf_dir, "orders")
    c = F.broadcast(_t(spark, sf_dir, "customer"))
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .select("o_orderkey", "c_name", "o_totalprice")
        .withColumn("o_totalprice", F.round("o_totalprice", 4))
    )


_SQL_LOOKUP = """
SELECT o_orderkey, c_name, round(o_totalprice, 4) AS o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
"""


# ---------------------------- aggregations ---------------------------------

def q_max_savepoint(spark, sf_dir):
    """A1: max-aggregate establishing the first incremental savepoint
    (FirstIncrementalSavePointDao.java:20-25)."""
    return _t(spark, sf_dir, "events").agg(
        F.max("ts").alias("sp_ts"), F.max("event_id").alias("sp_lsn")
    )


_SQL_SAVEPOINT = "SELECT max(ts) AS sp_ts, max(event_id) AS sp_lsn FROM events"


def q_distinct_change_keys(spark, sf_dir):
    """A2: DISTINCT change keys (CAP/entity/UserId.java:36)."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts") > F.lit("2024-01-15 00:00:00"))
        .select("user_id")
        .distinct()
    )


_SQL_DISTINCT = """
SELECT DISTINCT user_id FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
"""


def q_metrics_counts(spark, sf_dir):
    """A3: per-type counters (ConsumerCounter analog)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.max("event_id").alias("max_event_id"),
        )
    )


_SQL_METRICS = """
SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
       max(event_id) AS max_event_id
FROM events GROUP BY event_type
"""


# ------------------------------ windows ------------------------------------

def q_lww_window_rank(spark, sf_dir):
    """W1/A4: the LWW ranking window (rownumber over key order by version)
    — CwdsJobsLimitHandler.java:9-18's rownumber() + engine LWW."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        _t(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


_SQL_LWW_RANK = """
SELECT user_id, event_id, rn FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn <= 3
"""


# ------------------------------ set ops ------------------------------------

def q_union_sources(spark, sf_dir):
    """U1: union of two change sources
    (CapUsersIncrementalUpdatesProcessor.java:26-42)."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.lit("cws").alias("src")
    )
    b = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", F.lit("cap").alias("src")
    )
    return a.unionByName(b)


_SQL_UNION = """
SELECT event_id, user_id, 'cws' AS src FROM events WHERE event_type = 'purchase'
UNION ALL
SELECT event_id, user_id, 'cap' AS src FROM events WHERE event_type = 'signup'
"""


# --------------------------- sorts / limits --------------------------------

def q_topk_recent(spark, sf_dir):
    """O1/O4: deterministic total order + truncate."""
    return (
        _t(spark, sf_dir, "events")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(100)
        .select("event_id", "user_id", "ts")
    )


_SQL_TOPK = """
SELECT event_id, user_id, ts FROM events ORDER BY ts DESC, event_id DESC LIMIT 100
"""


def q_keyset_page(spark, sf_dir):
    """O2/P10: keyset pagination probe (facNbr > cursor, LIMIT page)
    (LicenseNumberIdentifier.java:32-34)."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") > 500)
        .orderBy("event_id")
        .limit(50)
        .select("event_id", "event_type")
    )


_SQL_KEYSET = """
SELECT event_id, event_type FROM events WHERE event_id > 500 ORDER BY event_id LIMIT 50
"""


def q_windowed_metrics(spark, sf_dir):
    """Event-time tumbling-window ingest metrics (batch flavor of
    streaming/windows.py; epoch-aligned 1h windows = date_trunc)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.max("event_id").alias("max_event_id"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "n_users",
            "max_event_id",
        )
    )


_SQL_WINDOWED = """
SELECT date_trunc('hour', ts) AS window_start,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       max(event_id) AS max_event_id
FROM events GROUP BY 1
"""


def q_session_windows(spark, sf_dir):
    """Gap-based session windows over the event stream (batch flavor of
    streaming/sessionize.py: lag + cumsum session ids, 1h gap)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = 3600
    df = (
        _t(spark, sf_dir, "events")
        .withColumn("_prev", F.lag("ts").over(w))
        .withColumn(
            "_new",
            (
                F.col("_prev").isNull()
                | ((F.unix_timestamp("ts") - F.unix_timestamp("_prev")) > gap_s)
            ).cast("long"),
        )
        .withColumn("sid", F.sum("_new").over(w))
    )
    return df.groupBy("user_id", "sid").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


_SQL_SESSIONS = """
SELECT user_id, sid,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM (
  SELECT user_id, ts,
         CAST(sum(new_sess) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                                     ORDER BY ts, event_id)) > 3600
                THEN 1 ELSE 0 END AS new_sess
    FROM events
  )
)
GROUP BY user_id, sid
"""


# ----------------------- training-data pipeline ----------------------------

def q_exact_dedup_docs(spark, sf_dir):
    """Exact dedup: hash-groupBy on canonical text (one shuffle)."""
    from cwds_jobs_spark.operators.doc_dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


_SQL_EXACT_DEDUP = """
SELECT md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS text_hash,
       min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


def q_token_stats(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex proxy."""
    from cwds_jobs_spark.functions.text import token_count, word_token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        word_token_count("text").alias("n_word_tokens"),
        F.length("text").cast("long").alias("n_chars_live"),
    )


_SQL_TOKENS = """
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_word_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_live
FROM documents
"""


def _langid_sql() -> str:
    from cwds_jobs_spark.functions.text import _LANG_PROBES

    score = {
        lang: (
            "len(regexp_extract_all(text, '(?i)\\b("
            + "|".join(ws)
            + ")\\b'))"
        )
        for lang, ws in _LANG_PROBES.items()
    }
    # argmax with max-lang tiebreak, mirroring array_max(struct(score,lang))
    order = sorted(score, reverse=True)  # 'fr' > 'es' > 'en' > 'de'
    cases = []
    for i, lang in enumerate(order):
        conds = [f"{score[lang]} > 0"]
        conds += [f"{score[lang]} >= {score[o]}" for o in order[i + 1:]]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return f"SELECT doc_id, lang AS lang_given, {case_sql} AS lang_pred FROM documents"


def q_lang_id(spark, sf_dir):
    """Language ID via stopword-probe heuristic (native regexp_count)."""
    from cwds_jobs_spark.functions.text import lang_id

    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("lang_given"), lang_id("text").alias("lang_pred")
    )


def q_quality_score(spark, sf_dir):
    """C4-style quality heuristic; all-native projection."""
    from cwds_jobs_spark.functions.text import quality_score

    return _t(spark, sf_dir, "documents").select(
        "doc_id", quality_score("text").alias("quality")
    )


_SQL_QUALITY = """
SELECT doc_id,
 round(
   0.4 * (least(length(text) / 200.0, 1.0)
          * CASE WHEN length(text) > 20000 THEN 0.5 ELSE 1.0 END)
 + 0.3 * (CASE WHEN length(text) > 0
                AND len(regexp_extract_all(text, '[^\\w\\s]')) / length(text) > 0.005
                AND len(regexp_extract_all(text, '[^\\w\\s]')) / length(text) < 0.2
           THEN 1.0 ELSE 0.5 END)
 + 0.3 * (CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) > 0
                AND len(regexp_extract_all(text, '(?i)\\b(the|and|of|to|is|in|that|it)\\b'))
                    * 1.0 / (CASE WHEN trim(text) = '' THEN 1
                             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) > 0.05
           THEN 1.0 ELSE 0.3 END)
 , 6) AS quality
FROM documents
"""


def q_text_stats(spark, sf_dir):
    """Repetition ratio + mean word length (C4-style junk signals)."""
    from cwds_jobs_spark.functions.text import mean_word_length, repetition_ratio

    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        repetition_ratio("text").alias("rep_ratio"),
        mean_word_length("text").alias("mean_wlen"),
    )


_SQL_TEXT_STATS = """
SELECT doc_id,
  CASE WHEN len(list_filter(string_split(text, chr(10)), x -> trim(x) <> '')) > 0
       THEN round(1.0 - len(list_distinct(list_filter(string_split(text, chr(10)),
                                                      x -> trim(x) <> '')))
                  * 1.0 / len(list_filter(string_split(text, chr(10)),
                                          x -> trim(x) <> '')), 6)
       ELSE 0.0 END AS rep_ratio,
  CASE WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) > 0
       THEN round(list_sum(list_transform(
                    list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''),
                    x -> length(x)))
                  * 1.0 / len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                          x -> x <> '')), 6)
       ELSE 0.0 END AS mean_wlen
FROM documents
"""


def q_corpus_filter(spark, sf_dir):
    """Composed training-corpus cleaning pipeline: keep a document iff
    it is (a) the keeper of its exact-dup group (min doc_id over the
    canonical-text hash), (b) quality ≥ 0.5, (c) predicted English,
    (d) 10..5000 whitespace tokens.  One scan + one aggregate + one
    semi-join — the filters fuse into the scan projection."""
    from cwds_jobs_spark.functions.canon import canonical_text_col
    from cwds_jobs_spark.functions.text import lang_id, quality_score, token_count

    d = _t(spark, sf_dir, "documents")
    keepers = (
        d.select(
            F.md5(canonical_text_col("text")).alias("h"),
            F.col("doc_id").cast("long").alias("doc_id"),
        )
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    toks = token_count("text")
    return (
        d.filter(
            (quality_score("text") >= 0.5)
            & (lang_id("text") == "en")
            & (toks >= 10)
            & (toks <= 5000)
        )
        .join(keepers, "doc_id", "left_semi")
        .select("doc_id", F.col("lang").alias("lang_given"))
    )


def _corpus_filter_sql() -> str:
    lang_case = _langid_sql().split("doc_id, lang AS lang_given, ")[1].split(
        " AS lang_pred"
    )[0]
    quality = _SQL_QUALITY.split("SELECT doc_id,")[1].split("AS quality")[0]
    toks = (
        "(CASE WHEN trim(text) = '' THEN 0 "
        "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)"
    )
    return f"""
WITH keepers AS (
  SELECT min(doc_id) AS doc_id
  FROM documents GROUP BY md5(trim(regexp_replace(text, '\\s+', ' ', 'g')))
)
SELECT d.doc_id, d.lang AS lang_given
FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
WHERE ({quality}) >= 0.5
  AND ({lang_case}) = 'en'
  AND {toks} BETWEEN 10 AND 5000
"""


# ---------------- side-file-oracled / rows-only ops -------------------------
#
# Side-file oracle pattern: ops whose *inputs* aren't SQL-expressible
# (xxhash64 shingle hashes, simhash signatures, an engine-synthesized
# change tail) write their deterministic intermediate to a parquet side
# file and are re-read from it, so the DuckDB oracle replays the
# *algorithmic* part (LSH candidate mining + verification, LWW replay)
# over byte-identical inputs via read_parquet().  The driver compares
# at sf=0.01 — oracle SQL hardcodes the sf0.01-tagged paths.

import os as _os

_ORACLE_SIDE_DIR = "/tmp/spark_graft_oracle"


def _side_path(sf_dir: str, name: str) -> str:
    tag = _os.path.basename(sf_dir.rstrip("/"))
    return f"{_ORACLE_SIDE_DIR}/{name}-{tag}"


def q_minhash_near_dups(spark, sf_dir):
    """MinHash LSH near-dup mining, verified on hashed shingles.

    Oracled parameters use bands == num_hashes (r=1): candidate recall
    at J ≥ 0.5 is 1-(1-J)^16 ≈ 1 - 1.5e-5, so the LSH output equals
    the exact all-pairs oracle on this corpus; production calls tune
    (num_hashes, bands) for the corpus-scale recall/cost point.
    """
    from cwds_jobs_spark.operators.doc_dedup import (
        hashed_shingles,
        near_dups_from_hashed,
    )

    p = _side_path(sf_dir, "minhash_shingles")
    hashed_shingles(_t(spark, sf_dir, "documents")).write.mode(
        "overwrite"
    ).parquet(p)
    hdf = spark.read.parquet(p)
    return near_dups_from_hashed(
        hdf, threshold=0.5, num_hashes=16, bands=16, max_bucket=100_000
    )


_SQL_MINHASH = """
WITH s AS (SELECT doc_id, sh
           FROM read_parquet('/tmp/spark_graft_oracle/minhash_shingles-sf0.01/*.parquet'))
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(len(list_intersect(a.sh, b.sh)) * 1.0 /
               (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE len(a.sh) > 0 AND len(b.sh) > 0
) WHERE jaccard >= 0.5
"""


def q_simhash_near_dups(spark, sf_dir):
    """SimHash near-dup mining (native signature kernel); 8×8-bit
    chunk banding pigeonhole-guarantees full recall at Hamming ≤ 7,
    so the mined pairs equal the exact all-pairs Hamming oracle."""
    from cwds_jobs_spark.operators.doc_dedup import (
        simhash,
        simhash_pairs_from_sigs,
    )

    p = _side_path(sf_dir, "simhash_sigs")
    docs = _t(spark, sf_dir, "documents")
    simhash(docs.select("doc_id", "text")).select("doc_id", "simhash").write.mode(
        "overwrite"
    ).parquet(p)
    sigs = spark.read.parquet(p)
    return simhash_pairs_from_sigs(sigs, max_hamming=6, max_bucket=100_000)


_SQL_SIMHASH = """
WITH s AS (SELECT doc_id, simhash
           FROM read_parquet('/tmp/spark_graft_oracle/simhash_sigs-sf0.01/*.parquet'))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
"""


def q_fingerprint(spark, sf_dir):
    """Document fingerprinting (md5-prefix variant with a DuckDB twin;
    the xxhash64 variant fingerprint64 is the cheaper scale path,
    exercised in pytest)."""
    from cwds_jobs_spark.functions.text import fingerprint_hex

    return _t(spark, sf_dir, "documents").select(
        "doc_id", fingerprint_hex("text").alias("fp_hex")
    )


_SQL_FP = r"""
SELECT doc_id,
       substr(md5(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 16) AS fp_hex
FROM documents
"""


def q_multimodal_features(spark, sf_dir):
    """Multimodal feature extraction (binary payload → feature vector
    via mapInPandas); features emitted as integer millifeature CSV so
    the harness can sort/hash rows (arrays are unhashable there)."""
    from cwds_jobs_spark.operators.multimodal import extract_features, synth_media

    feats = extract_features(synth_media(spark, 500))
    return feats.select(
        "media_id",
        "kind",
        F.concat_ws(
            ",",
            F.transform(
                "features", lambda x: F.round(x * 1000).cast("int").cast("string")
            ),
        ).alias("feat_str"),
    )


def _multimodal_sql() -> str:
    """DuckDB twin of synth_media + the fake feature kernel: features
    are little-endian uint32 reads of the sha256-hex payload bytes,
    mod 1000 (see operators/multimodal.py:_fake_features)."""
    feats = []
    for i in range(16):
        terms = " + ".join(
            f"ascii(substr(h, {4 * i + j + 1}, 1)) * {256 ** j}" for j in range(4)
        )
        feats.append(f"CAST(({terms}) % 1000 AS VARCHAR)")
    feat_str = " || ',' || ".join(feats)
    return f"""
SELECT id AS media_id,
       CASE id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       {feat_str} AS feat_str
FROM (SELECT range AS id, sha256('blob' || CAST(range AS VARCHAR)) AS h FROM range(500))
"""


_PAGED_N_PAGES, _PAGED_PER = 20, 50


def _make_paged_fetch():
    """Deterministic fake numbered-page API (stands in for the
    reference's Perry/Cognito user pages, IdmServiceImpl.java:68-75).
    Returned as a NESTED function so cloudpickle ships it by value —
    executors never need this module importable."""
    n_pages, per = _PAGED_N_PAGES, _PAGED_PER

    def fetch(p: int) -> list[tuple]:
        if p >= n_pages:
            return []
        return [(p * per + i, f"user_{p:03d}_{i:03d}", p) for i in range(per)]

    return fetch


def q_paged_source(spark, sf_dir):
    """S6: REST-style paginated source — numbered-page fetches run
    distributed on executors via mapInPandas (sources/paged.py), the
    Spark-native reader thread pool."""
    from pyspark.sql import types as T

    from cwds_jobs_spark.sources.paged import read_indexed_paged

    schema = T.StructType(
        [
            T.StructField("uid", T.LongType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField("page", T.IntegerType(), False),
        ]
    )
    return read_indexed_paged(
        spark, _make_paged_fetch(), schema, n_pages=_PAGED_N_PAGES, tasks=8
    )


_SQL_PAGED = """
SELECT (p.range * 50 + i.range) AS uid,
       printf('user_%03d_%03d', p.range, i.range) AS name,
       CAST(p.range AS INTEGER) AS page
FROM range(20) p, range(50) i
"""


def q_cdc_merge_replay(spark, sf_dir):
    """End-to-end engine replay: synthesize a change tail, write it to
    the oracle side file, MERGE it window-by-window into a fresh
    snapshot table, return final state.  The DuckDB oracle replays the
    SAME parquet tail with a row_number() LWW + delete filter."""
    import tempfile

    from cwds_jobs_spark.operators.merge import merge_apply
    from cwds_jobs_spark.schema import TRANSCRIPTS_SCHEMA
    from cwds_jobs_spark.synth import synth_changes
    from cwds_jobs_spark.table.snapshot import SnapshotTable

    per, nb = 2000, 3
    # tail content is sf-independent (pure function of lsn), so the
    # side path is fixed
    tail_path = f"{_ORACLE_SIDE_DIR}/cdc_tail"
    synth_changes(spark, per * nb, n_convs=60).write.mode("overwrite").parquet(
        tail_path
    )
    src = spark.read.parquet(tail_path)

    d = tempfile.mkdtemp(prefix="cdc_entry_")
    tbl = SnapshotTable.create(spark, d, TRANSCRIPTS_SCHEMA, num_buckets=8)
    for b in range(nb):
        win = src.filter(
            (F.col("lsn") >= per * b) & (F.col("lsn") < per * (b + 1))
        )
        merge_apply(tbl, win, job_id="entry", batch_id=b)
    return tbl.read()


_SQL_CDC_REPLAY = """
-- CAST(ts): the tail parquet stores TIMESTAMP_MICROS adjusted-to-UTC
-- (session tz is UTC), which DuckDB types as TIMESTAMPTZ; the Spark
-- result is the naive UTC wall time — same instant, strip the tz
SELECT conv_id, turn_idx, role, text, tool, CAST(ts AS TIMESTAMP) AS ts
FROM (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY op_ts DESC, lsn DESC) AS rn
  FROM read_parquet('/tmp/spark_graft_oracle/cdc_tail/*.parquet')
) WHERE rn = 1 AND op <> 'D'
"""


def q_multisource_vector(spark, sf_dir):
    """T6/U1 streaming shape (reference AbstractCapUsersJob.java:30-50 +
    CapUsersSavePoint.java:9-47 vector): two synthesized change tails
    drained by ONE checkpointed streaming query (union legs, each leg's
    file offsets tracked independently); the per-source high-watermark
    vector is recorded atomically with the snapshot ledger commit.

    Returns uniform (section, k, v) rows: the merged final table state
    (section='final') plus the COMMITTED vector read back from the
    ledger (section='wm', v = '<epoch_us>/<lsn>').  The DuckDB oracle
    replays the same two parquet tails with a row_number() LWW and
    recomputes each source's (op_ts, lsn) maximum — so both the merge
    result and the vector the engine committed are value-checked."""
    import datetime as _dt
    import tempfile

    from cwds_jobs_spark.streaming.driver import run_tail_once
    from cwds_jobs_spark.synth import synth_changes
    from cwds_jobs_spark.table.snapshot import SnapshotTable

    per = 1500
    # tail content is sf-independent (pure function of lsn) — fixed paths
    pa = f"{_ORACLE_SIDE_DIR}/ms_tail_a"
    pb = f"{_ORACLE_SIDE_DIR}/ms_tail_b"
    synth_changes(spark, per, n_convs=40).write.mode("overwrite").parquet(pa)
    synth_changes(spark, per, n_convs=40, start_lsn=per).write.mode(
        "overwrite"
    ).parquet(pb)

    work = tempfile.mkdtemp(prefix="msv_entry_")
    run_tail_once(
        spark,
        job_id="msv",
        changes_dir={"a": pa, "b": pb},
        table_path=f"{work}/tbl",
        checkpoint_dir=f"{work}/ckpt",
        num_buckets=8,
    )
    tbl = SnapshotTable.load(spark, f"{work}/tbl")
    final = tbl.read().select(
        F.lit("final").alias("section"),
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("k"),
        F.concat_ws(
            "|", F.coalesce("role", F.lit("")), F.coalesce("text", F.lit(""))
        ).alias("v"),
    )
    wm = tbl.committed_watermark("msv")["sources"]
    utc = _dt.timezone.utc
    rows = [
        (
            "wm",
            name,
            "%d/%d"
            % (
                int(
                    _dt.datetime.fromisoformat(w["ts"])
                    .replace(tzinfo=utc)
                    .timestamp()
                    * 1_000_000
                ),
                int(w["lsn"]),
            ),
        )
        for name, w in sorted(wm.items())
    ]
    vec = spark.createDataFrame(rows, "section string, k string, v string")
    return final.unionByName(vec)


_SQL_MSV = """
WITH tail AS (
  SELECT * FROM read_parquet('/tmp/spark_graft_oracle/ms_tail_a/*.parquet')
  UNION ALL
  SELECT * FROM read_parquet('/tmp/spark_graft_oracle/ms_tail_b/*.parquet')
)
SELECT 'final' AS section,
       conv_id || '#' || CAST(turn_idx AS VARCHAR) AS k,
       coalesce(role, '') || '|' || coalesce(text, '') AS v
FROM (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY op_ts DESC, lsn DESC) AS rn
  FROM tail
) WHERE rn = 1 AND op <> 'D'
UNION ALL
SELECT 'wm', 'a',
       (SELECT CAST(epoch_us(CAST(op_ts AS TIMESTAMP)) AS VARCHAR)
                 || '/' || CAST(lsn AS VARCHAR)
        FROM read_parquet('/tmp/spark_graft_oracle/ms_tail_a/*.parquet')
        ORDER BY op_ts DESC, lsn DESC LIMIT 1)
UNION ALL
SELECT 'wm', 'b',
       (SELECT CAST(epoch_us(CAST(op_ts AS TIMESTAMP)) AS VARCHAR)
                 || '/' || CAST(lsn AS VARCHAR)
        FROM read_parquet('/tmp/spark_graft_oracle/ms_tail_b/*.parquet')
        ORDER BY op_ts DESC, lsn DESC LIMIT 1)
"""


# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: CDC LWW final-state replay."""
    return q_cdc_final_state(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_final_state": q_cdc_final_state,
        "change_scan_window": q_change_scan_window,
        "initial_excludes_deletes": q_initial_excludes_deletes,
        "filter_predicates": q_filter_predicates,
        "json_props": q_json_props,
        "multiway_left_join_distinct": q_multiway_left_join_distinct,
        "semi_join_changed": q_semi_join_changed,
        "anti_join_unprocessed": q_anti_join_unprocessed,
        "point_lookup_join": q_point_lookup_join,
        "max_savepoint": q_max_savepoint,
        "distinct_change_keys": q_distinct_change_keys,
        "metrics_counts": q_metrics_counts,
        "lww_window_rank": q_lww_window_rank,
        "union_sources": q_union_sources,
        "topk_recent": q_topk_recent,
        "keyset_page": q_keyset_page,
        "session_windows": q_session_windows,
        "windowed_metrics": q_windowed_metrics,
        "exact_dedup_docs": q_exact_dedup_docs,
        "token_stats": q_token_stats,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "text_stats": q_text_stats,
        "corpus_filter": q_corpus_filter,
        "minhash_near_dups": q_minhash_near_dups,
        "simhash_near_dups": q_simhash_near_dups,
        "fingerprint": q_fingerprint,
        "multimodal_features": q_multimodal_features,
        "paged_source": q_paged_source,
        "cdc_merge_replay": q_cdc_merge_replay,
        "multisource_vector": q_multisource_vector,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "cdc_final_state": _SQL_CDC,
        "change_scan_window": _SQL_SCAN,
        "initial_excludes_deletes": _SQL_NO_DELETES,
        "filter_predicates": _SQL_FILTERS,
        "json_props": _SQL_JSON,
        "multiway_left_join_distinct": _SQL_J1,
        "semi_join_changed": _SQL_SEMI,
        "anti_join_unprocessed": _SQL_ANTI,
        "point_lookup_join": _SQL_LOOKUP,
        "max_savepoint": _SQL_SAVEPOINT,
        "distinct_change_keys": _SQL_DISTINCT,
        "metrics_counts": _SQL_METRICS,
        "lww_window_rank": _SQL_LWW_RANK,
        "union_sources": _SQL_UNION,
        "topk_recent": _SQL_TOPK,
        "keyset_page": _SQL_KEYSET,
        "session_windows": _SQL_SESSIONS,
        "windowed_metrics": _SQL_WINDOWED,
        "exact_dedup_docs": _SQL_EXACT_DEDUP,
        "token_stats": _SQL_TOKENS,
        "lang_id": _langid_sql(),
        "quality_score": _SQL_QUALITY,
        "text_stats": _SQL_TEXT_STATS,
        "corpus_filter": _corpus_filter_sql(),
        "minhash_near_dups": _SQL_MINHASH,
        "simhash_near_dups": _SQL_SIMHASH,
        "fingerprint": _SQL_FP,
        "multimodal_features": _multimodal_sql(),
        "paged_source": _SQL_PAGED,
        "cdc_merge_replay": _SQL_CDC_REPLAY,
        "multisource_vector": _SQL_MSV,
    }
