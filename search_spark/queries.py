"""Driver-facing query registry: Spark implementation + DuckDB oracle SQL.

Each entry re-expresses one operator family from SURVEY.md §2 (or a
training-data-pipeline operator: dedup, similarity search, text analysis)
over the driver's parquet tables (`documents`, `embeddings`, `events`,
TPC-H-ish tables). The Spark body and the ANSI-SQL oracle are kept
*adjacent* in one :class:`Q` so they can be reviewed for semantic equality
line by line.

Alignment rules (the driver hash-compares values after sorting columns by
name):
  * every computed column is aliased identically on both sides;
  * integer outputs are BIGINT on both sides (DuckDB ``sum`` yields HUGEINT —
    always cast);
  * float outputs are computed in DOUBLE and ``round(x, 4)``-ed;
  * top-k orderings tie-break on a unique key so the selected *set* is
    deterministic.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared fixtures (inlined identically on both sides)
# ---------------------------------------------------------------------------

# token-level gazetteer over the documents vocabulary — the PatternCreator
# stand-in for the SQL-oracle-able mining pipeline (mining/entity.py:30-96)
DOC_GAZETTEER: list[tuple[str, str]] = [
    ("spark", "ENGINE"),
    ("join", "OPERATOR"),
    ("sort", "OPERATOR"),
    ("scan", "OPERATOR"),
    ("filter", "OPERATOR"),
    ("merge", "OPERATOR"),
    ("agg", "OPERATOR"),
    ("table", "OBJECT"),
    ("row", "OBJECT"),
    ("column", "OBJECT"),
    ("key", "OBJECT"),
    ("customer", "OBJECT"),
    ("dup", "NaE"),  # excluded type — mining/pipeline.py:113-117
]

DOC_ONTOLOGY: list[tuple[str, str]] = [
    ("ENGINE", "WIKIDATA"),
    ("OPERATOR", "DBPEDIA"),
    ("OBJECT", "SCHEMA_ORG"),
]

SAME = "START_WITH_SAME_LETTER"
DIFF = "START_WITH_DIFFERENT_LETTER"
REL_DISTANCE = 6
STOPWORDS = ("the", "a")

_GAZ_SQL = "gaz(pattern, entity_type) AS (VALUES {})".format(
    ", ".join(f"('{t}', '{e}')" for t, e in DOC_GAZETTEER)
)
_ONT_SQL = "ont(entity_type, ontology_source) AS (VALUES {})".format(
    ", ".join(f"('{t}', '{s}')" for t, s in DOC_ONTOLOGY)
)

# tokens CTE: doc_id, tpos (BIGINT, 0-based), tok
_TOKS_SQL = (
    "toks AS (SELECT doc_id,"
    " generate_subscripts(string_split(text, ' '), 1) - 1 AS tpos,"
    " unnest(string_split(text, ' ')) AS tok FROM documents)"
)

# mentions CTE (token-level NER, NaE excluded)
_MENTIONS_SQL = (
    f"WITH {_TOKS_SQL}, {_GAZ_SQL}, "
    "mentions AS (SELECT doc_id, tpos, tok AS mention, entity_type "
    "FROM toks JOIN gaz ON tok = pattern WHERE entity_type <> 'NaE')"
)

# 3-gram shingles CTE (docs with ≥ 3 tokens); DuckDB lists are 1-based
_SHINGLES_SQL = (
    "sh AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),"
    " i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle"
    " FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)"
    " WHERE len(t) >= 3)"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, tpos BIGINT, tok) via JVM-side split+posexplode."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("tpos", "tok"),
    ).withColumn("tpos", F.col("tpos").cast("long"))


def _doc_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    gaz = spark.createDataFrame(DOC_GAZETTEER, ["pattern", "entity_type"])
    return (
        _tokens(spark, sf_dir)
        .join(F.broadcast(gaz), F.col("tok") == F.col("pattern"), "inner")
        .filter(F.col("entity_type") != "NaE")
        .select("doc_id", "tpos", F.col("tok").alias("mention"), "entity_type")
    )


def _doc_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _doc_mentions(spark, sf_dir)
    s = m.select(
        "doc_id",
        F.col("tpos").alias("s_tpos"),
        F.col("mention").alias("subj"),
        F.col("entity_type").alias("s_type"),
    )
    o = m.select(
        "doc_id",
        F.col("tpos").alias("o_tpos"),
        F.col("mention").alias("obj"),
        F.col("entity_type").alias("o_type"),
    )
    return (
        s.join(o, on="doc_id")
        .filter(
            (F.col("s_type") == "OPERATOR")
            & (F.col("o_type") == "OBJECT")
            & (F.col("s_tpos") != F.col("o_tpos"))
            & (F.abs(F.col("s_tpos") - F.col("o_tpos")) <= REL_DISTANCE)
        )
        .select(
            "doc_id",
            "s_tpos",
            "o_tpos",
            "subj",
            F.when(
                F.substring("subj", 1, 1) == F.substring("obj", 1, 1),
                F.lit(SAME),
            ).otherwise(F.lit(DIFF)).alias("pred"),
            "obj",
        )
    )


_RELATIONS_SQL_BODY = f"""
relations AS (
  SELECT s.doc_id, s.tpos AS s_tpos, o.tpos AS o_tpos, s.mention AS subj,
         CASE WHEN substr(s.mention, 1, 1) = substr(o.mention, 1, 1)
              THEN '{SAME}' ELSE '{DIFF}' END AS pred,
         o.mention AS obj
  FROM mentions s JOIN mentions o
    ON s.doc_id = o.doc_id AND s.tpos <> o.tpos
   AND abs(s.tpos - o.tpos) <= {REL_DISTANCE}
  WHERE s.entity_type = 'OPERATOR' AND o.entity_type = 'OBJECT')
"""


def _cosine_double(a, b) -> F.Column:
    """Cosine over array<float> cast to double (matches the SQL oracle's
    explode-and-sum-in-double formulation to float-ulp level)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0),
                      lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(ad, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(bd, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


# SQL helper: exploded embedding values (vec_id, i, v DOUBLE)
_EMB_EXPLODED_SQL = (
    "e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,"
    " CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings)"
)


# ---------------------------------------------------------------------------
# the registry
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Q:
    spark: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None → non-SQL-expressible (driver does rows-only)


def _q_kg_doc_mentions(spark, sf_dir):
    return _doc_mentions(spark, sf_dir)


_SQL_KG_DOC_MENTIONS = f"""
{_MENTIONS_SQL}
SELECT doc_id, tpos, mention, entity_type FROM mentions
"""


def _q_kg_doc_relations(spark, sf_dir):
    return _doc_relations(spark, sf_dir)


_SQL_KG_DOC_RELATIONS = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY}
SELECT doc_id, s_tpos, o_tpos, subj, pred, obj FROM relations
"""


def _q_kg_doc_triples(spark, sf_dir):
    m = _doc_mentions(spark, sf_dir)
    has_type = m.select(
        F.col("mention").alias("subj"),
        F.lit("has_type").alias("pred"),
        F.col("entity_type").alias("obj"),
        F.concat_ws(":", "doc_id", "tpos").alias("prov"),
    )
    rel = _doc_relations(spark, sf_dir).select(
        "subj",
        "pred",
        "obj",
        F.concat_ws(":", "doc_id", "s_tpos").alias("prov"),
    )
    return has_type.unionByName(rel)


_SQL_KG_DOC_TRIPLES = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY}
SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj,
       CAST(doc_id AS VARCHAR) || ':' || CAST(tpos AS VARCHAR) AS prov
FROM mentions
UNION ALL
SELECT subj, pred, obj,
       CAST(doc_id AS VARCHAR) || ':' || CAST(s_tpos AS VARCHAR) AS prov
FROM relations
"""


def _q_kg_mention_counts(spark, sf_dir):
    return (
        _doc_mentions(spark, sf_dir)
        .groupBy("entity_type")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


_SQL_KG_MENTION_COUNTS = f"""
{_MENTIONS_SQL}
SELECT entity_type, CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM mentions GROUP BY entity_type
"""


def _q_kg_ontology_join(spark, sf_dir):
    ont = spark.createDataFrame(DOC_ONTOLOGY, ["entity_type", "ontology_source"])
    return (
        _doc_mentions(spark, sf_dir)
        .join(F.broadcast(ont), on="entity_type", how="left")
        .groupBy("entity_type", "ontology_source")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )


_SQL_KG_ONTOLOGY_JOIN = f"""
{_MENTIONS_SQL}, {_ONT_SQL}
SELECT m.entity_type, o.ontology_source, CAST(count(*) AS BIGINT) AS n_mentions
FROM mentions m LEFT JOIN ont o ON m.entity_type = o.entity_type
GROUP BY m.entity_type, o.ontology_source
"""


def _q_sentence_filter(spark, sf_dir):
    # SentenceFilter semantics (sql.py:387-718): length + language
    # predicates on the scan, then the operator's case-folded substring
    # include/exclude (sql.py:542-563).
    from search_spark.operators.sentence_filter import SentenceFilter

    d = _docs(spark, sf_dir).filter(
        (F.col("lang") == "en")
        & (F.length("text") >= 50)
        & (F.length("text") <= 2000)
    )
    return (
        SentenceFilter(article_key="doc_id")
        .include_text("spark")
        .exclude_text("slow")
        .apply(d)
        .select("doc_id", "n_chars")
    )


_SQL_SENTENCE_FILTER = """
SELECT doc_id, n_chars FROM documents
WHERE lang = 'en' AND length(text) >= 50 AND length(text) <= 2000
  AND lower(text) LIKE '%spark%' AND lower(text) NOT LIKE '%slow%'
"""


def _q_semi_join_orders(spark, sf_dir):
    # sentences ⋈ articles filter-pushup shape (sql.py:618-628) → left semi
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    rich = customer.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return (
        orders.join(rich, orders.o_custkey == rich.c_custkey, "left_semi")
        .select("o_orderkey", "o_custkey")
    )


_SQL_SEMI_JOIN_ORDERS = """
SELECT o_orderkey, o_custkey FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
"""


def _q_group_concat_events(spark, sf_dir):
    # paragraph-reassembly shape (sql.py:253-291): ordered group-concat
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
                " ",
            ).alias("event_seq")
        )
    )


_SQL_GROUP_CONCAT_EVENTS = """
SELECT user_id, string_agg(event_type, ' ' ORDER BY ts, event_id) AS event_seq
FROM events GROUP BY user_id
"""


def _q_window_positions(spark, sf_dir):
    # position numbering (§2.7): row_number per user ordered by time
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("long").alias("pos"),
    )


_SQL_WINDOW_POSITIONS = """
SELECT event_id, user_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS BIGINT) AS pos
FROM events
"""


def _q_sessionize_events(spark, sf_dir):
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_prev = ev.withColumn("prev_ts", F.lag("ts").over(w))
    new_session = (
        F.col("prev_ts").isNull()
        | (F.col("ts") > F.expr("prev_ts + INTERVAL 1 HOUR"))
    )
    return (
        with_prev.withColumn("ns", new_session.cast("long"))
        .groupBy("user_id")
        .agg(F.sum("ns").alias("n_sessions"))
    )


_SQL_SESSIONIZE_EVENTS = """
WITH x AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events)
SELECT user_id,
       CAST(sum(CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 1 HOUR
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
FROM x GROUP BY user_id
"""


def _q_topk_similar(spark, sf_dir):
    # top-k sentences by similarity (search.py:253-262) →
    # ORDER BY score DESC LIMIT k (Catalyst: TakeOrderedAndProject)
    emb = _emb(spark, sf_dir)
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            F.round(_cosine_double(F.col("embedding"), F.col("q_emb")), 4)
            .alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(10)


_SQL_TOPK_SIMILAR = f"""
WITH {_EMB_EXPLODED_SQL},
q AS (SELECT i, v FROM e WHERE vec_id = 0),
nq AS (SELECT sqrt(sum(v * v)) AS nrm FROM q),
d AS (SELECT e.vec_id, sum(e.v * q.v) AS dot, sqrt(sum(e.v * e.v)) AS nrm
      FROM e JOIN q ON e.i = q.i WHERE e.vec_id <> 0 GROUP BY e.vec_id)
SELECT vec_id, round(dot / (d.nrm * nq.nrm), 4) AS score
FROM d, nq ORDER BY score DESC, vec_id ASC LIMIT 10
"""


def _q_topk_groups(spark, sf_dir):
    # top-k articles by max sentence similarity (search.py:268-288) →
    # groupBy(article).agg(max(sim)).orderBy.limit
    emb = _emb(spark, sf_dir)
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    scored = emb.crossJoin(F.broadcast(query)).select(
        "label",
        F.round(_cosine_double(F.col("embedding"), F.col("q_emb")), 4)
        .alias("score"),
    )
    return (
        scored.groupBy("label")
        .agg(F.max("score").alias("best_score"))
        .orderBy(F.desc("best_score"), F.asc("label"))
        .limit(5)
    )


_SQL_TOPK_GROUPS = f"""
WITH {_EMB_EXPLODED_SQL},
q AS (SELECT i, v FROM e WHERE vec_id = 0),
nq AS (SELECT sqrt(sum(v * v)) AS nrm FROM q),
d AS (SELECT e.vec_id, sum(e.v * q.v) AS dot, sqrt(sum(e.v * e.v)) AS nrm
      FROM e JOIN q ON e.i = q.i GROUP BY e.vec_id),
s AS (SELECT emb.label, round(d.dot / (d.nrm * nq.nrm), 4) AS score
      FROM d JOIN embeddings emb ON d.vec_id = emb.vec_id, nq)
SELECT label, max(score) AS best_score FROM s GROUP BY label
ORDER BY best_score DESC, label ASC LIMIT 5
"""


def _q_dedup_exact(spark, sf_dir):
    # exact dedup via content hash; "keep-first" = deterministic min id
    # (reference: drop_duplicates("cord_uid") keep-first, cord_19.py:217)
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


_SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_dups,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id
FROM documents GROUP BY md5(text)
"""


def _shingles(spark, sf_dir):
    d = _docs(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 3)
    return d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 3),"
                " i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
            )
        ).alias("shingle"),
    )


_N_MINHASH = 8


def _q_dedup_minhash(spark, sf_dir):
    # MinHash signature: h_j = min over shingles of md5(j ':' shingle).
    # md5-as-string min is engine-portable (lexicographic on hex).
    sh = _shingles(spark, sf_dir)
    aggs = [
        F.min(F.md5(F.concat_ws(":", F.lit(str(j)), F.col("shingle"))))
        .alias(f"h{j}")
        for j in range(_N_MINHASH)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


_SQL_DEDUP_MINHASH = f"""
WITH {_SHINGLES_SQL}
SELECT doc_id, {", ".join(
    f"min(md5('{j}' || ':' || shingle)) AS h{j}" for j in range(_N_MINHASH)
)}
FROM sh GROUP BY doc_id
"""


def _bands_from_sig(sig):
    """(doc_id, band, band_hash) — both bands emitted from ONE pass over
    the signature rows (explode of a 2-element struct array), so the
    signature aggregation is never evaluated per band."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).cast("long").alias("band"),
                    F.md5(F.concat_ws("|", "h0", "h1", "h2", "h3")).alias(
                        "band_hash"
                    ),
                ),
                F.struct(
                    F.lit(1).cast("long").alias("band"),
                    F.md5(F.concat_ws("|", "h4", "h5", "h6", "h7")).alias(
                        "band_hash"
                    ),
                ),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.band").alias("band"),
             F.col("b.band_hash").alias("band_hash"))


def _q_minhash_bands(spark, sf_dir):
    # LSH banding: 2 bands of 4 hashes → candidate buckets with > 1 doc
    bands = _bands_from_sig(_q_dedup_minhash(spark, sf_dir))
    return (
        bands.groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


_SQL_MINHASH_BANDS = f"""
WITH {_SHINGLES_SQL},
sig AS (
  SELECT doc_id, {", ".join(
    f"min(md5('{j}' || ':' || shingle)) AS h{j}" for j in range(_N_MINHASH)
  )}
  FROM sh GROUP BY doc_id),
bands AS (
  SELECT CAST(0 AS BIGINT) AS band,
         md5(h0 || '|' || h1 || '|' || h2 || '|' || h3) AS band_hash, doc_id
  FROM sig
  UNION ALL
  SELECT CAST(1 AS BIGINT) AS band,
         md5(h4 || '|' || h5 || '|' || h6 || '|' || h7) AS band_hash, doc_id
  FROM sig)
SELECT band, band_hash, CAST(count(*) AS BIGINT) AS n_docs
FROM bands GROUP BY band, band_hash HAVING count(*) > 1
"""


_SIMHASH_BITS = 16
_HIGH_NIBBLE = ("8", "9", "a", "b", "c", "d", "e", "f")


def _q_dedup_simhash(spark, sf_dir):
    # SimHash: bit i of md5(token)'s i-th hex nibble votes ±1; the sign of
    # the per-doc vote sum sets bit i of the fingerprint.
    toks = _tokens(spark, sf_dir).withColumn("h", F.md5("tok"))
    votes = [
        F.sum(
            F.when(
                F.substring("h", i + 1, 1).isin(*_HIGH_NIBBLE), F.lit(1)
            ).otherwise(F.lit(-1))
        ).alias(f"s{i}")
        for i in range(_SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    bits = None
    for i in range(_SIMHASH_BITS):
        term = F.when(F.col(f"s{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
        bits = term if bits is None else bits + term
    return agg.select("doc_id", bits.cast("long").alias("simhash"))


_SQL_DEDUP_SIMHASH = f"""
WITH {_TOKS_SQL},
v AS (
  SELECT doc_id, {", ".join(
    "sum(CASE WHEN substr(md5(tok), %d, 1) IN (%s) THEN 1 ELSE -1 END) AS s%d"
    % (i + 1, ", ".join("'%s'" % c for c in _HIGH_NIBBLE), i)
    for i in range(_SIMHASH_BITS)
  )}
  FROM toks GROUP BY doc_id)
SELECT doc_id, CAST({" + ".join(
    f"(CASE WHEN s{i} > 0 THEN {2**i} ELSE 0 END)" for i in range(_SIMHASH_BITS)
)} AS BIGINT) AS simhash
FROM v
"""


# synthetic docs share few 3-grams; 0.01 keeps the result non-empty (the
# realistic 0.8-style near-dup threshold would trivially pass on 0 rows)
_JACCARD_MIN = 0.01


def _minhash_band_pairs(spark, sf_dir):
    """Candidate doc pairs from LSH banding: two docs are candidates iff
    some band of their MinHash signatures collides — the 100-TB-shaped
    candidate generator (no all-pairs work anywhere)."""
    bands = _bands_from_sig(_q_dedup_minhash(spark, sf_dir))
    a = bands.select("band", "band_hash", F.col("doc_id").alias("doc_id_a"))
    b = bands.select("band", "band_hash", F.col("doc_id").alias("doc_id_b"))
    return (
        a.join(b, on=["band", "band_hash"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
        .distinct()
    )


_BAND_PAIRS_SQL = f"""
{_SHINGLES_SQL},
sig AS (
  SELECT doc_id, {", ".join(
    f"min(md5('{j}' || ':' || shingle)) AS h{j}" for j in range(_N_MINHASH)
  )}
  FROM sh GROUP BY doc_id),
bands AS (
  SELECT 0 AS band, md5(h0 || '|' || h1 || '|' || h2 || '|' || h3)
           AS band_hash, doc_id FROM sig
  UNION ALL
  SELECT 1 AS band, md5(h4 || '|' || h5 || '|' || h6 || '|' || h7)
           AS band_hash, doc_id FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id)
"""


def _q_ngram_jaccard(spark, sf_dir):
    # band-then-verify (VERDICT r01 item 4): the *exact* n-gram Jaccard
    # verifier runs only on MinHash-band candidate pairs — the inverted-
    # index all-pairs join (and its id cap) is gone; work is bounded by
    # candidates × shingles-per-doc at any corpus size.
    cand = _minhash_band_pairs(spark, sf_dir)
    shd = _shingles(spark, sf_dir).distinct()
    cnt = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = shd.select(F.col("doc_id").alias("doc_id_a"), "shingle")
    sb = shd.select(F.col("doc_id").alias("doc_id_b"), "shingle")
    inter = (
        cand.join(sa, on="doc_id_a")
        .join(sb, on=["doc_id_b", "shingle"])
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    ca = cnt.select(F.col("doc_id").alias("doc_id_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("doc_id_b"), F.col("n").alias("nb"))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(ca, on="doc_id_a")
        .join(cb, on="doc_id_b")
        .filter(jac >= _JACCARD_MIN)
        .select(
            "doc_id_a", "doc_id_b", F.round(jac, 4).alias("jaccard")
        )
    )


_SQL_NGRAM_JACCARD = f"""
WITH {_BAND_PAIRS_SQL},
shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
cnt AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.doc_id_a, c.doc_id_b, count(*) AS i
  FROM cand c
  JOIN shd a ON a.doc_id = c.doc_id_a
  JOIN shd b ON b.doc_id = c.doc_id_b AND b.shingle = a.shingle
  GROUP BY 1, 2)
SELECT doc_id_a, doc_id_b,
       round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard
FROM inter
JOIN cnt ca ON doc_id_a = ca.doc_id
JOIN cnt cb ON doc_id_b = cb.doc_id
WHERE i * 1.0 / (ca.n + cb.n - i) >= {_JACCARD_MIN}
"""


_NEARDUP_MIN_COS = 0.15
# 2^6 = 64 sign buckets: per-bucket pair work stays ~(n/64)² per bucket —
# at production scale the bit count grows with the corpus (buckets are the
# shard unit), here sized so sf0.1 keeps sub-second verify cost
_NEARDUP_LSH_BITS = 6


def _q_embedding_neardup(spark, sf_dir):
    # bucket-then-verify (VERDICT r01 item 4): exact cosine only on pairs
    # sharing an LSH sign bucket (sign bits of the first dims) — the
    # capped crossJoin is gone; per-bucket work is |bucket|², bounded by
    # the bucket granularity, and buckets shard across executors.
    emb = _emb(spark, sf_dir)
    bucket = F.concat_ws(
        "",
        *[
            F.when(F.element_at("embedding", i + 1) >= 0, F.lit("1"))
            .otherwise(F.lit("0"))
            for i in range(_NEARDUP_LSH_BITS)
        ],
    )
    wb = emb.select("vec_id", "embedding", bucket.alias("bucket"))
    a = wb.select(
        "bucket", F.col("vec_id").alias("vec_id_a"), F.col("embedding").alias("ea")
    )
    b = wb.select(
        "bucket", F.col("vec_id").alias("vec_id_b"), F.col("embedding").alias("eb")
    )
    pairs = a.join(b, on="bucket").filter(F.col("vec_id_a") < F.col("vec_id_b"))
    cos = _cosine_double(F.col("ea"), F.col("eb"))
    return pairs.select(
        "vec_id_a", "vec_id_b", F.round(cos, 4).alias("cos")
    ).filter(F.col("cos") >= _NEARDUP_MIN_COS)


_NEARDUP_BUCKET_SQL = " || ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END)"
    for i in range(_NEARDUP_LSH_BITS)
)

_SQL_EMBEDDING_NEARDUP = f"""
WITH wb AS (SELECT vec_id, embedding, {_NEARDUP_BUCKET_SQL} AS bucket
            FROM embeddings),
cand AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
         FROM wb a JOIN wb b
           ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
d AS (SELECT c.vec_id_a, c.vec_id_b, sum(a.v * b.v) AS dot
      FROM cand c
      JOIN e a ON a.vec_id = c.vec_id_a
      JOIN e b ON b.vec_id = c.vec_id_b AND b.i = a.i
      GROUP BY 1, 2)
SELECT vec_id_a, vec_id_b, round(dot / (na.nrm * nb.nrm), 4) AS cos
FROM d JOIN n na ON vec_id_a = na.vec_id JOIN n nb ON vec_id_b = nb.vec_id
WHERE round(dot / (na.nrm * nb.nrm), 4) >= {_NEARDUP_MIN_COS}
"""


def _q_token_stats(spark, sf_dir):
    # language-ID heuristic inputs + token counting (quality pipeline)
    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("t"))
    n_tokens = F.size("t").cast("long")
    n_stop = F.size(
        F.filter(F.col("t"), lambda x: x.isin(*STOPWORDS))
    ).cast("long")
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stop"),
        F.round(n_stop / n_tokens, 4).alias("stop_ratio"),
    )


_SQL_TOKEN_STATS = f"""
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(t, x -> x IN ({", ".join(
           "'%s'" % s for s in STOPWORDS)}))) AS BIGINT) AS n_stop,
       round(len(list_filter(t, x -> x IN ({", ".join(
           "'%s'" % s for s in STOPWORDS)}))) * 1.0 / len(t), 4) AS stop_ratio
FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
"""


def _q_quality_score(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("t"))
    n = F.size("t").cast("long")
    nd = F.size(F.array_distinct("t")).cast("long")
    avg_len = F.aggregate(
        F.transform(F.col("t"), lambda x: F.length(x).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / n
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        nd.alias("n_distinct"),
        F.round(nd / n, 4).alias("ttr"),
        F.round(avg_len, 4).alias("avg_token_len"),
    )


_SQL_QUALITY_SCORE = """
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
       round(len(list_distinct(t)) * 1.0 / len(t), 4) AS ttr,
       round(list_sum(list_transform(t, x -> CAST(length(x) AS DOUBLE)))
             / len(t), 4) AS avg_token_len
FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
"""


def _q_doc_fingerprint(spark, sf_dir):
    # document fingerprint: hash of every-4th-token subsequence
    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("t"))
    sampled = F.filter(F.col("t"), lambda x, i: i % 4 == 0)
    return d.select(
        "doc_id", F.md5(F.array_join(sampled, " ")).alias("fingerprint")
    )


_SQL_DOC_FINGERPRINT = """
SELECT doc_id,
       md5(array_to_string(list_filter(t, (x, i) -> (i - 1) % 4 = 0), ' '))
         AS fingerprint
FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
"""


# RE2-compatible (works identically under Java regex and DuckDB's RE2):
# letter runs | digit runs | non-alnum-non-space runs — the GPT-2-style
# pre-tokenization shape without lookarounds
_BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"


def _q_token_count_bpe(spark, sf_dir):
    # BPE-ish token counting: regex pre-tokenization (letter/digit/punct
    # runs) instead of whitespace split — the LLM-corpus accounting number
    # that sizes training runs; one scan, all codegen
    d = _docs(spark, sf_dir)
    toks = F.regexp_extract_all("text", F.lit(_BPE_TOKEN_RE), 0)
    n = F.size(toks).cast("long")
    return d.select(
        "doc_id",
        n.alias("n_bpe_tokens"),
        F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$")))
        .cast("long")
        .alias("n_digit_runs"),
        F.round(F.col("n_chars") / n, 4).alias("chars_per_token"),
    )


_SQL_TOKEN_COUNT_BPE = rf"""
WITH t AS (SELECT doc_id, n_chars,
                  regexp_extract_all(text, '{_BPE_TOKEN_RE}') AS toks
           FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
       CAST(len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$')))
            AS BIGINT) AS n_digit_runs,
       round(n_chars * 1.0 / len(toks), 4) AS chars_per_token
FROM t
"""


_WINNOW_W = 4  # winnowing window: one fingerprint per w consecutive shingles


def _q_fingerprint_winnow(spark, sf_dir):
    # rolling-hash winnowing (the MOSS fingerprint): hash every 3-gram
    # shingle in document order, slide a w-shingle window, keep each
    # window's minimum hash — near-identical documents share most selected
    # fingerprints while storage is ~1/w of the shingle count
    from pyspark.sql import Window

    sh = _shingles_pos(spark, sf_dir)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("spos")
        .rowsBetween(0, _WINNOW_W - 1)
    )
    selected = sh.select(
        "doc_id", F.min(F.md5("shingle")).over(w).alias("fp")
    ).distinct()
    return selected.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.md5(F.concat_ws("|", F.array_sort(F.collect_list("fp")))).alias(
            "fp_set_hash"
        ),
    )


_SQL_FINGERPRINT_WINNOW = f"""
WITH shp AS (
  SELECT doc_id,
         CAST(unnest(generate_series(1, len(t) - 2)) AS BIGINT) - 1 AS spos,
         unnest(list_transform(range(1, len(t) - 1),
                i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS h
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= 3),
sel AS (
  SELECT DISTINCT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY spos
                      ROWS BETWEEN CURRENT ROW
                      AND {_WINNOW_W - 1} FOLLOWING) AS fp
  FROM shp)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints,
       md5(array_to_string(list_sort(list(fp)), '|')) AS fp_set_hash
FROM sel GROUP BY doc_id
"""


def _shingles_pos(spark, sf_dir):
    """(doc_id, spos, shingle) — 3-gram shingles with their position."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 3)
    return d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, size(t) - 3),"
                " i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
            )
        ).alias("spos", "shingle"),
    ).withColumn("spos", F.col("spos").cast("long"))


# RE2-safe PII patterns (no lookarounds → identical under Java regex)
_EMAIL_RE = r"[a-z0-9.]+@[a-z0-9.]+"
_PHONE_RE = r"555-[0-9]{4}"


def _q_redact_pii(spark, sf_dir):
    # PII scrubbing — a training-data pipeline MUST strip contact strings
    # before corpora ship. PII is synthesized deterministically onto the
    # documents (they carry none), then redacted with codegen-only regex
    # replaces; output counts + a hash of the redacted text so the oracle
    # verifies the exact post-redaction bytes.
    d = _docs(spark, sf_dir)
    with_pii = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" contact john.doe"),
                     (F.col("doc_id") % 90).cast("string"),
                     F.lit("@example.com now")),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.lit(" call 555-"),
                     F.lpad((F.col("doc_id") % 100).cast("string"), 4, "0"),
                     F.lit(" today")),
        )
        .otherwise(F.lit("")),
    )
    n_emails = F.size(F.regexp_extract_all(with_pii, F.lit(_EMAIL_RE), 0))
    n_phones = F.size(F.regexp_extract_all(with_pii, F.lit(_PHONE_RE), 0))
    redacted = F.regexp_replace(
        F.regexp_replace(with_pii, _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_hash"),
    )


_SQL_REDACT_PII = f"""
WITH w AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 5 = 0 THEN ' contact john.doe'
                || CAST(doc_id % 90 AS VARCHAR) || '@example.com now'
           WHEN doc_id % 5 = 1 THEN ' call 555-'
                || lpad(CAST(doc_id % 100 AS VARCHAR), 4, '0') || ' today'
           ELSE '' END AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_hash
FROM w
"""


def _q_repetition_stats(spark, sf_dir):
    # Gopher-style repetition signals: most-common-token ratio and
    # duplicate-bigram fraction — array-native per row (no explode, no
    # shuffle; the O(tokens²) distinct-count scan is bounded by document
    # length, not corpus size)
    d = _docs(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("t")
    )
    n = F.size("t").cast("long")
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct("t"),
            lambda x: F.size(F.filter(F.col("t"), lambda y: y == x)),
        )
    ).cast("long")
    bigrams = F.expr(
        "transform(sequence(0, size(t) - 2), i -> concat_ws(' ', t[i], t[i+1]))"
    )
    dup_frac = F.lit(1.0) - F.size(F.array_distinct(bigrams)) / F.size(bigrams)
    return d.filter(n >= 2).select(
        "doc_id",
        top_cnt.alias("top_token_count"),
        F.round(top_cnt / n, 4).alias("top_token_ratio"),
        F.round(dup_frac, 4).alias("dup_bigram_frac"),
    )


_SQL_REPETITION_STATS = """
WITH x AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
m AS (
  SELECT doc_id, len(t) AS n,
         list_max(list_transform(list_distinct(t),
                  u -> len(list_filter(t, y -> y = u)))) AS top_cnt,
         list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS bg
  FROM x WHERE len(t) >= 2)
SELECT doc_id,
       CAST(top_cnt AS BIGINT) AS top_token_count,
       round(top_cnt * 1.0 / n, 4) AS top_token_ratio,
       round(1.0 - len(list_distinct(bg)) * 1.0 / len(bg), 4)
         AS dup_bigram_frac
FROM m
"""


def _q_semantic_search(spark, sf_dir):
    # the full search-server query shape (SURVEY.md §3.3): predicate filter
    # → semi-restricted similarity → top-k
    d = _docs(spark, sf_dir).filter(
        (F.col("lang") == "en") & (F.col("n_chars") >= 100)
    ).select("doc_id")
    emb = _emb(spark, sf_dir)
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    candidates = emb.join(d, emb.vec_id == d.doc_id, "left_semi")
    scored = candidates.crossJoin(F.broadcast(query)).select(
        "vec_id",
        F.round(_cosine_double(F.col("embedding"), F.col("q_emb")), 4)
        .alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(10)


_SQL_SEMANTIC_SEARCH = f"""
WITH {_EMB_EXPLODED_SQL},
q AS (SELECT i, v FROM e WHERE vec_id = 0),
nq AS (SELECT sqrt(sum(v * v)) AS nrm FROM q),
keep AS (SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 100),
d AS (SELECT e.vec_id, sum(e.v * q.v) AS dot, sqrt(sum(e.v * e.v)) AS nrm
      FROM e JOIN q ON e.i = q.i
      WHERE e.vec_id IN (SELECT doc_id FROM keep) GROUP BY e.vec_id)
SELECT vec_id, round(dot / (d.nrm * nq.nrm), 4) AS score
FROM d, nq ORDER BY score DESC, vec_id ASC LIMIT 10
"""


def _q_ann_lsh_topk(spark, sf_dir):
    # LSH-bucketed approximate NN: sign bits of the first 8 dims form the
    # bucket; search only within the query's bucket (scale path: the bucket
    # join replaces the full cross product)
    emb = _emb(spark, sf_dir)
    bucket = F.concat_ws(
        "",
        *[
            F.when(F.element_at("embedding", i + 1) >= 0, F.lit("1"))
            .otherwise(F.lit("0"))
            for i in range(8)
        ],
    )
    with_bucket = emb.withColumn("bucket", bucket)
    query = with_bucket.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"), F.col("bucket").alias("q_bucket")
    )
    cand = with_bucket.filter(F.col("vec_id") != 0).join(
        F.broadcast(query), F.col("bucket") == F.col("q_bucket"), "inner"
    )
    scored = cand.select(
        "vec_id",
        F.round(_cosine_double(F.col("embedding"), F.col("q_emb")), 4)
        .alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(5)


_SQL_ANN_LSH_TOPK = f"""
WITH b AS (
  SELECT vec_id, embedding, {" || ".join(
      f"(CASE WHEN embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END)"
      for i in range(8)
  )} AS bucket
  FROM embeddings),
qb AS (SELECT bucket FROM b WHERE vec_id = 0),
cand AS (SELECT vec_id, embedding FROM b, qb WHERE b.bucket = qb.bucket
         AND vec_id <> 0),
e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v FROM cand),
q AS (SELECT generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings WHERE vec_id = 0),
nq AS (SELECT sqrt(sum(v * v)) AS nrm FROM q),
d AS (SELECT e.vec_id, sum(e.v * q.v) AS dot, sqrt(sum(e.v * e.v)) AS nrm
      FROM e JOIN q ON e.i = q.i GROUP BY e.vec_id)
SELECT vec_id, round(dot / (d.nrm * nq.nrm), 4) AS score
FROM d, nq ORDER BY score DESC, vec_id ASC LIMIT 5
"""


def _q_topic_filter(spark, sf_dir):
    # scalar accept/reject regex predicate over text — the simplified
    # form; the reference-faithful (level, source, pattern) rule
    # evaluation over topic-LIST columns is the `topic_rules` query
    # (operators/topics.py, topic_rule.py:55-127)
    d = _docs(spark, sf_dir)
    return d.filter(
        F.col("text").rlike("stream|vector")
        & ~F.col("text").rlike("dup")
    ).select("doc_id", "source")


_SQL_TOPIC_FILTER = """
SELECT doc_id, source FROM documents
WHERE regexp_matches(text, 'stream|vector')
  AND NOT regexp_matches(text, 'dup')
"""


def _q_tpch_pricing_summary(spark, sf_dir):
    # classic hash-agg shape (§2.6); integer sums + rounded avgs only (float
    # sum order is engine-dependent; avgs round safely)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.count(F.lit(1)).alias("count_order"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        )
    )


_SQL_TPCH_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       CAST(count(*) AS BIGINT) AS count_order,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc
FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def _q_top_customers(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        spend.join(
            F.broadcast(customer.select("c_custkey", "c_name")),
            spend.o_custkey == F.col("c_custkey"),
        )
        .select("c_custkey", "c_name", "total_spend", "n_orders")
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(10)
    )


_SQL_TOP_CUSTOMERS = """
SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS total_spend,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spend DESC, c_custkey ASC LIMIT 10
"""


EN_MARKERS = ("the", "a", "of", "is")


def _q_langid_ngram(spark, sf_dir):
    # language-ID heuristic (cord_19.py:460-487 slot): marker-token ratio →
    # predicted language; pure JVM-side higher-order functions
    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("t"))
    n = F.size("t").cast("long")
    n_en = F.size(F.filter(F.col("t"), lambda x: x.isin(*EN_MARKERS))).cast(
        "long"
    )
    return d.select(
        "doc_id",
        n_en.alias("n_markers"),
        F.when(n_en / n >= 0.05, F.lit("en")).otherwise(F.lit("other"))
        .alias("pred_lang"),
    )


_SQL_LANGID_NGRAM = f"""
SELECT doc_id,
       CAST(len(list_filter(t, x -> x IN ({", ".join(
           "'%s'" % m for m in EN_MARKERS)}))) AS BIGINT) AS n_markers,
       CASE WHEN len(list_filter(t, x -> x IN ({", ".join(
           "'%s'" % m for m in EN_MARKERS)}))) * 1.0 / len(t) >= 0.05
            THEN 'en' ELSE 'other' END AS pred_lang
FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
"""


def _q_anti_join_resume(spark, sf_dir):
    # checkpoint-resume shape (SURVEY.md §2.9/§2.11): input ∖ processed via
    # left-anti join — the H5-unpopulated-rows / Luigi-complete() analogue
    d = _docs(spark, sf_dir)
    processed = d.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    return d.join(processed, on="doc_id", how="left_anti").select(
        "doc_id", "n_chars"
    )


_SQL_ANTI_JOIN_RESUME = """
SELECT doc_id, n_chars FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 3 = 0)
"""


# perturbed gazetteer for the eval queries: 'merge' dropped (→ FN),
# 'fast' added (→ FP), 'table' re-typed OBJECT→OPERATOR (FP + FN)
PRED_GAZETTEER: list[tuple[str, str]] = [
    (t, "OPERATOR" if t == "table" else e)
    for t, e in DOC_GAZETTEER
    if t != "merge"
] + [("fast", "OPERATOR")]

_PGAZ_SQL = "pgaz(pattern, entity_type) AS (VALUES {})".format(
    ", ".join(f"('{t}', '{e}')" for t, e in PRED_GAZETTEER)
)

_TRUTH_PRED_SQL = (
    f"WITH {_TOKS_SQL}, {_GAZ_SQL}, {_PGAZ_SQL}, "
    "truth AS (SELECT DISTINCT doc_id, tpos, entity_type FROM toks "
    "JOIN gaz ON tok = pattern WHERE entity_type <> 'NaE'), "
    "pred AS (SELECT DISTINCT doc_id, tpos, entity_type FROM toks "
    "JOIN pgaz ON tok = pattern WHERE entity_type <> 'NaE')"
)


def _truth_pred(spark, sf_dir):
    toks = _tokens(spark, sf_dir)

    def mentions_of(gaz_rows):
        gaz = spark.createDataFrame(gaz_rows, ["pattern", "entity_type"])
        return (
            toks.join(F.broadcast(gaz), toks.tok == gaz.pattern)
            .filter(F.col("entity_type") != "NaE")
            .select("doc_id", "tpos", "entity_type")
            .distinct()
        )

    return mentions_of(DOC_GAZETTEER), mentions_of(PRED_GAZETTEER)


def _q_eval_pr_report(spark, sf_dir):
    # the reference's ner_report P/R/F1 (eval.py:450-480) as a DataFrame job
    # via operators.evaluation.entity_level_pr — the ≥0.95 gate machinery
    from search_spark.operators.evaluation import entity_level_pr

    truth, pred = _truth_pred(spark, sf_dir)
    spanify = lambda df: df.withColumn(  # noqa: E731
        "start_char", F.col("tpos")
    ).withColumn("end_char", F.col("tpos") + 1)
    report = entity_level_pr(spanify(truth), spanify(pred), keys=["doc_id"])
    return report.select(
        "entity_type",
        "n_true",
        "n_pred",
        "tp",
        F.round("precision", 4).alias("precision"),
        F.round("recall", 4).alias("recall"),
        F.round("f1", 4).alias("f1"),
    )


_SQL_EVAL_PR_REPORT = f"""
{_TRUTH_PRED_SQL},
tp AS (SELECT t.entity_type, count(*) AS tp FROM truth t
       JOIN pred p ON t.doc_id = p.doc_id AND t.tpos = p.tpos
        AND t.entity_type = p.entity_type
       GROUP BY t.entity_type),
nt AS (SELECT entity_type, count(*) AS n_true FROM truth GROUP BY entity_type),
np AS (SELECT entity_type, count(*) AS n_pred FROM pred GROUP BY entity_type)
SELECT COALESCE(nt.entity_type, np.entity_type) AS entity_type,
       CAST(COALESCE(n_true, 0) AS BIGINT) AS n_true,
       CAST(COALESCE(n_pred, 0) AS BIGINT) AS n_pred,
       CAST(COALESCE(tp.tp, 0) AS BIGINT) AS tp,
       round(COALESCE(tp.tp, 0) * 1.0 / COALESCE(n_pred, 0), 4) AS precision,
       round(COALESCE(tp.tp, 0) * 1.0 / COALESCE(n_true, 0), 4) AS recall,
       round(2.0 * COALESCE(tp.tp, 0)
             / (COALESCE(n_pred, 0) + COALESCE(n_true, 0)), 4) AS f1
FROM nt FULL JOIN np ON nt.entity_type = np.entity_type
LEFT JOIN tp ON COALESCE(nt.entity_type, np.entity_type) = tp.entity_type
"""


def _q_confusion_matrix(spark, sf_dir):
    # token-level type×type confusion counts incl. 'None' (eval.py:616-711)
    truth, pred = _truth_pred(spark, sf_dir)
    t = truth.select("doc_id", "tpos", F.col("entity_type").alias("true_type"))
    p = pred.select("doc_id", "tpos", F.col("entity_type").alias("pred_type"))
    return (
        t.join(p, on=["doc_id", "tpos"], how="full")
        .select(
            F.coalesce("true_type", F.lit("None")).alias("true_type"),
            F.coalesce("pred_type", F.lit("None")).alias("pred_type"),
        )
        .groupBy("true_type", "pred_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_SQL_CONFUSION_MATRIX = f"""
{_TRUTH_PRED_SQL}
SELECT COALESCE(t.entity_type, 'None') AS true_type,
       COALESCE(p.entity_type, 'None') AS pred_type,
       CAST(count(*) AS BIGINT) AS n
FROM truth t FULL JOIN pred p ON t.doc_id = p.doc_id AND t.tpos = p.tpos
GROUP BY 1, 2
"""


def _q_ner_errors(spark, sf_dir):
    """FN/FP error listing with surface text — the reference's
    ``ner_errors`` entity mode + ``idx2text`` (eval.py:536-581): truth and
    pred token runs collapse to spans, spans anti-join both ways, then the
    token range join attaches the entity text annotators actually read."""
    from pyspark.sql import Window

    from search_spark.operators.evaluation import ner_errors, spans_to_text

    truth, pred = _truth_pred(spark, sf_dir)

    def spans_of(m):
        w = Window.partitionBy("doc_id").orderBy("tpos")
        prev_t = F.lag("tpos").over(w)
        prev_e = F.lag("entity_type").over(w)
        new_run = (
            prev_t.isNull()
            | (F.col("tpos") != prev_t + 1)
            | (F.col("entity_type") != prev_e)
        ).cast("long")
        runs = m.withColumn("nr", new_run).withColumn(
            "run_id", F.sum("nr").over(w)
        )
        return runs.groupBy("doc_id", "run_id", "entity_type").agg(
            F.min("tpos").alias("start"), F.max("tpos").alias("end")
        ).drop("run_id")

    errors = ner_errors(spans_of(truth), spans_of(pred), keys=["doc_id"])
    toks = _tokens(spark, sf_dir)
    texted = spans_to_text(
        errors, toks, order_col="tpos", text_col="tok", group_cols=["doc_id"]
    )
    # kind joins back on the span key (a span key can never be both FN and
    # FP — that would make it a TP on both sides)
    return errors.join(
        texted, on=["doc_id", "entity_type", "start", "end"]
    ).select(
        "doc_id",
        "entity_type",
        "kind",
        F.col("start").alias("start_tpos"),
        F.col("end").alias("end_tpos"),
        "entity_text",
    )


_SQL_NER_ERRORS = f"""
{_TRUTH_PRED_SQL},
truns AS (
  SELECT doc_id, tpos, entity_type,
         CASE WHEN lag(tpos) OVER w IS NULL
                OR tpos <> lag(tpos) OVER w + 1
                OR entity_type <> lag(entity_type) OVER w
              THEN 1 ELSE 0 END AS nr
  FROM truth WINDOW w AS (PARTITION BY doc_id ORDER BY tpos)),
tspans AS (
  SELECT doc_id, entity_type, min(tpos) AS s, max(tpos) AS e
  FROM (SELECT doc_id, tpos, entity_type,
               sum(nr) OVER (PARTITION BY doc_id ORDER BY tpos) AS run_id
        FROM truns)
  GROUP BY doc_id, run_id, entity_type),
pruns AS (
  SELECT doc_id, tpos, entity_type,
         CASE WHEN lag(tpos) OVER w IS NULL
                OR tpos <> lag(tpos) OVER w + 1
                OR entity_type <> lag(entity_type) OVER w
              THEN 1 ELSE 0 END AS nr
  FROM pred WINDOW w AS (PARTITION BY doc_id ORDER BY tpos)),
pspans AS (
  SELECT doc_id, entity_type, min(tpos) AS s, max(tpos) AS e
  FROM (SELECT doc_id, tpos, entity_type,
               sum(nr) OVER (PARTITION BY doc_id ORDER BY tpos) AS run_id
        FROM pruns)
  GROUP BY doc_id, run_id, entity_type),
errs AS (
  SELECT *, 'false_neg' AS kind FROM tspans
  ANTI JOIN pspans USING (doc_id, entity_type, s, e)
  UNION ALL
  SELECT *, 'false_pos' AS kind FROM pspans
  ANTI JOIN tspans USING (doc_id, entity_type, s, e))
SELECT er.doc_id, er.entity_type, er.kind,
       er.s AS start_tpos, er.e AS end_tpos,
       string_agg(t.tok, ' ' ORDER BY t.tpos) AS entity_text
FROM errs er JOIN toks t
  ON t.doc_id = er.doc_id AND t.tpos BETWEEN er.s AND er.e
GROUP BY er.doc_id, er.entity_type, er.kind, er.s, er.e
"""


def _q_iob_spans(spark, sf_dir):
    # IOB-style span extraction (eval.py:312-341): consecutive same-type
    # mention tokens collapse to (start,end) runs via lag + running sum
    from pyspark.sql import Window

    m = _doc_mentions(spark, sf_dir).select("doc_id", "tpos", "entity_type")
    w = Window.partitionBy("doc_id").orderBy("tpos")
    prev_t = F.lag("tpos").over(w)
    prev_e = F.lag("entity_type").over(w)
    new_run = (
        prev_t.isNull()
        | (F.col("tpos") != prev_t + 1)
        | (F.col("entity_type") != prev_e)
    ).cast("long")
    runs = m.withColumn("nr", new_run).withColumn(
        "run_id", F.sum("nr").over(w)
    )
    return runs.groupBy("doc_id", "run_id", "entity_type").agg(
        F.min("tpos").alias("start_tpos"),
        (F.max("tpos") + 1).alias("end_tpos"),
        F.count(F.lit(1)).alias("n_toks"),
    )


_SQL_IOB_SPANS = f"""
{_MENTIONS_SQL},
runs AS (
  SELECT doc_id, tpos, entity_type,
         CASE WHEN lag(tpos) OVER w IS NULL
                OR tpos <> lag(tpos) OVER w + 1
                OR entity_type <> lag(entity_type) OVER w
              THEN 1 ELSE 0 END AS nr
  FROM mentions
  WINDOW w AS (PARTITION BY doc_id ORDER BY tpos)),
ids AS (
  SELECT doc_id, tpos, entity_type,
         sum(nr) OVER (PARTITION BY doc_id ORDER BY tpos) AS run_id
  FROM runs)
SELECT doc_id, CAST(run_id AS BIGINT) AS run_id, entity_type,
       min(tpos) AS start_tpos, max(tpos) + 1 AS end_tpos,
       CAST(count(*) AS BIGINT) AS n_toks
FROM ids GROUP BY doc_id, run_id, entity_type
"""


def _q_window_rank_topk(spark, sf_dir):
    # per-group top-k via row_number (top-k articles shape, search.py:268-288)
    from pyspark.sql import Window

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 2)
        .select("o_custkey", "o_orderkey", "rnk")
    )


_SQL_WINDOW_RANK_TOPK = """
SELECT o_custkey, o_orderkey, rnk FROM (
  SELECT o_custkey, o_orderkey,
         CAST(row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
  FROM orders)
WHERE rnk <= 2
"""


def _q_set_ops_docs(spark, sf_dir):
    # §2.9 set ops: INTERSECT / EXCEPT with SQL (distinct) semantics
    d = _docs(spark, sf_dir)
    with_spark = d.filter(F.col("text").contains("spark")).select("doc_id")
    with_join = d.filter(F.col("text").contains("join")).select("doc_id")
    with_slow = d.filter(F.col("text").contains("slow")).select("doc_id")
    return with_spark.intersect(with_join).subtract(with_slow)


_SQL_SET_OPS_DOCS = """
(SELECT doc_id FROM documents WHERE text LIKE '%spark%'
 INTERSECT
 SELECT doc_id FROM documents WHERE text LIKE '%join%')
EXCEPT
SELECT doc_id FROM documents WHERE text LIKE '%slow%'
"""


def _q_skew_salted_agg(spark, sf_dir):
    # two-phase salted aggregation (operators/skew.py) — numerically equal
    # to the direct GROUP BY, shuffle-safe under heavy key skew
    from search_spark.operators.skew import salted_count_sum

    ev = _events(spark, sf_dir)
    out = salted_count_sum(
        ev, ["event_type"], value_col="value", salt_source="event_id"
    )
    return out.select(
        "event_type",
        F.col("n_rows").alias("n_events"),
        F.round("sum_value", 2).alias("total_value"),
    )


_SQL_SKEW_SALTED_AGG = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events GROUP BY event_type
"""


def _q_streaming_window_counts(spark, sf_dir):
    # real Structured Streaming execution (readStream → watermark → window
    # agg → AvailableNow); bounded source ⇒ result equals the batch GROUP BY.
    # State is O(days × event types) here — a handful of state partitions,
    # not scan-width many (see streaming.windowed._state_partitions)
    from search_spark.streaming.windowed import windowed_event_counts

    return windowed_event_counts(
        spark, f"{sf_dir}/events.parquet", state_partitions=4
    )


_SQL_STREAMING_WINDOW_COUNTS = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start, event_type,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2
"""


def _q_search_deprioritized(spark, sf_dir):
    # full search-server lifecycle incl. deprioritization combine
    # (search.py:166-183): combined = w1*q - w2*d, normalized, top-k over
    # the restricted candidate set — via operators/search.semantic_topk
    from search_spark.operators.search import semantic_topk

    emb = _emb(spark, sf_dir)
    q_vec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    d_vec = emb.filter(F.col("vec_id") == 1).select("embedding").collect()[0][0]
    candidates = emb.filter(~F.col("vec_id").isin(0, 1)).select("vec_id")
    return semantic_topk(
        emb,
        [float(x) for x in q_vec],
        k=10,
        restrict_ids=candidates,
        deprioritize_vec=[float(x) for x in d_vec],
        strength="Stronger",
    )


_SQL_SEARCH_DEPRIORITIZED = """
WITH q1 AS (SELECT generate_subscripts(embedding, 1) AS i,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings WHERE vec_id = 0),
q2 AS (SELECT generate_subscripts(embedding, 1) AS i,
              CAST(unnest(embedding) AS DOUBLE) AS v
       FROM embeddings WHERE vec_id = 1),
comb AS (SELECT q1.i, 0.5 * q1.v - 0.7 * q2.v AS v
         FROM q1 JOIN q2 ON q1.i = q2.i),
nc AS (SELECT sqrt(sum(v * v)) AS nrm FROM comb),
cn AS (SELECT i, v / (SELECT nrm FROM nc) AS v FROM comb),
ncn AS (SELECT sqrt(sum(v * v)) AS nrm FROM cn),
e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings WHERE vec_id NOT IN (0, 1)),
d AS (SELECT e.vec_id, sum(e.v * cn.v) AS dot, sqrt(sum(e.v * e.v)) AS nrm
      FROM e JOIN cn ON e.i = cn.i GROUP BY e.vec_id)
SELECT vec_id, round(dot / (d.nrm * ncn.nrm), 4) AS score
FROM d, ncn ORDER BY score DESC, vec_id ASC LIMIT 10
"""


def _q_bad_sentence_stats(spark, sf_dir):
    # bad-sentence statistics (cord_19.py:64-94): three predicates → n_bad,
    # percent — the UPDATE becomes a column, the stats a single agg
    d = _docs(spark, sf_dir)
    bad = (
        d["text"].rlike(r"\\[a-z]+\{")
        | (F.col("n_chars") < 150)
        | (F.col("n_chars") > 350)
    )
    return d.select(bad.cast("long").alias("b")).agg(
        F.sum("b").alias("n_bad"),
        F.count(F.lit(1)).alias("n_total"),
        F.round(F.sum("b") * 100.0 / F.count(F.lit(1)), 4).alias("pct_bad"),
    )


_SQL_BAD_SENTENCE_STATS = r"""
SELECT CAST(sum(b) AS BIGINT) AS n_bad,
       CAST(count(*) AS BIGINT) AS n_total,
       round(sum(b) * 100.0 / count(*), 4) AS pct_bad
FROM (SELECT CASE WHEN regexp_matches(text, '\\[a-z]+\{')
                    OR n_chars < 150 OR n_chars > 350
             THEN 1 ELSE 0 END AS b FROM documents)
"""


def _q_ivf_centroids(spark, sf_dir):
    # IVF coarse-quantizer build: per-label centroid of the embedding
    # column — element-wise mean via posexplode + hash agg (the scale path
    # for ANN: assign to nearest centroid, search within the cell).
    # The mean is computed as a SORTED sequential fold so both engines add
    # in the same order — a parallel avg() is order-dependent at the last
    # ulp and flips round(·,4) on boundary values.
    emb = _emb(spark, sf_dir)
    exploded = emb.select(
        "label",
        F.posexplode(F.col("embedding")).alias("dim_i", "v"),
    ).select(
        "label",
        F.col("dim_i").cast("long").alias("dim_i"),
        F.col("v").cast("double").alias("v"),
    )
    grouped = exploded.groupBy("label", "dim_i").agg(
        F.sort_array(F.collect_list("v")).alias("vs"),
        F.count(F.lit(1)).alias("n"),
    )
    total = F.aggregate("vs", F.lit(0.0), lambda acc, x: acc + x)
    # + 0.0 canonicalizes IEEE −0.0 → +0.0 (engines disagree on the sign of
    # a rounded-to-zero negative mean, and −0.0 hash-compares as "-0")
    return grouped.select(
        "label",
        "dim_i",
        (F.round(total / F.col("n"), 4) + F.lit(0.0)).alias("centroid"),
    )


_SQL_IVF_CENTROIDS = """
SELECT label, dim_i,
       round(CAST(list_reduce(list_sort(list(v)), (a, b) -> a + b) AS DOUBLE)
             / count(*), 4) + 0.0 AS centroid
FROM (SELECT label,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim_i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings)
GROUP BY 1, 2
"""


_PQ_M = 4       # subspaces
_PQ_SUBDIM = 16  # dims per subspace (embeddings are 64-dim)


def _pq_codes_df(spark, sf_dir):
    """(vec_id, subspace, code, qdist): product-quantization code
    assignment. Codebook = the per-label subspace centroids (the same
    supervised stand-in as `ivf_centroids`). Distances are
    index-order `zip_with`/`aggregate` folds so both engines add in the
    same order; the per-(vector, subspace) argmin is round-then-min —
    the portable two-step."""
    cent = _q_ivf_centroids(spark, sf_dir)
    cb = (
        cent.withColumn(
            "subspace", (F.col("dim_i") / _PQ_SUBDIM).cast("long")
        )
        .groupBy("label", "subspace")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("dim_i", "centroid"))
                ),
                lambda x: x["centroid"],
            ).alias("c_sub")
        )
    )
    vs = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v_arr"),
    )
    subs = vs.select(
        "vec_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(_PQ_M - 1))
        ).alias("subspace"),
        "v_arr",
    ).select(
        "vec_id",
        "subspace",
        F.expr(
            f"slice(v_arr, subspace * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})"
        ).alias("v_sub"),
    )
    dist = subs.join(cb, "subspace").select(
        "vec_id",
        "subspace",
        "label",
        F.round(
            F.aggregate(
                F.zip_with(
                    "v_sub", "c_sub", lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("d"),
    )
    m = dist.groupBy("vec_id", "subspace").agg(F.min("d").alias("md"))
    return (
        dist.join(m, ["vec_id", "subspace"])
        .filter(F.col("d") == F.col("md"))
        .groupBy("vec_id", "subspace")
        .agg(F.min("label").alias("code"), F.min("d").alias("qdist"))
        .select("vec_id", "subspace", "code", F.col("qdist").alias("qdist"))
    )


def _q_pq_codes(spark, sf_dir):
    """Product quantization (Jégou et al. 2011): each vector compressed
    to M=4 subspace codes against a per-subspace codebook — the memory
    path for 100-TB ANN (4 bytes/vector here instead of 256). One
    explode bounded by M (never corpus × dims), codebook broadcast-sized,
    distances as JVM index-order folds."""
    return _pq_codes_df(spark, sf_dir)


_PQ_CODES_CTES = f"""
cent AS ({_SQL_IVF_CENTROIDS}),
cb AS (SELECT label, dim_i // {_PQ_SUBDIM} AS subspace,
              list(centroid ORDER BY dim_i) AS c_sub
       FROM cent GROUP BY 1, 2),
vs AS (SELECT vec_id,
              list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v_arr
       FROM embeddings),
subs AS (SELECT vs.vec_id, t.subspace,
                list_slice(v_arr, t.subspace * {_PQ_SUBDIM} + 1,
                           (t.subspace + 1) * {_PQ_SUBDIM}) AS v_sub
         FROM vs, range(0, {_PQ_M}) t(subspace)),
pdist AS (
  SELECT s.vec_id, s.subspace, cb.label,
         round(list_reduce(
           list_transform(range(1, {_PQ_SUBDIM} + 1),
                          i -> (v_sub[i] - c_sub[i])
                               * (v_sub[i] - c_sub[i])),
           (a, b) -> a + b), 6) AS d
  FROM subs s JOIN cb ON cb.subspace = s.subspace),
pm AS (SELECT vec_id, subspace, MIN(d) AS md
       FROM pdist GROUP BY vec_id, subspace),
codes AS (
  SELECT p.vec_id, p.subspace, MIN(p.label) AS code, MIN(p.d) AS qdist
  FROM pdist p JOIN pm ON pm.vec_id = p.vec_id
                      AND pm.subspace = p.subspace AND p.d = pm.md
  GROUP BY p.vec_id, p.subspace)
"""

_SQL_PQ_CODES = f"""
WITH {_PQ_CODES_CTES}
SELECT vec_id, CAST(subspace AS BIGINT) AS subspace, code, qdist
FROM codes
"""


_PQ_TOPK = 10


def _q_pq_adc_search(spark, sf_dir):
    """Asymmetric-distance (ADC) top-k over the PQ codes: the query
    keeps its exact sub-vectors, every corpus vector is represented by
    its codes, and the approximate distance is the sum of the M
    query-to-codebook lookup-table entries selected by the codes — the
    standard PQ scan where per-vector work is M table lookups, not a
    D-dim dot product. The LUT is the query's own (subspace, label)
    distance rows (codebook-sized, broadcast under AQE); top-k is a
    TakeOrdered on (rounded ADC, vec_id)."""
    codes = _pq_codes_df(spark, sf_dir)
    cent = _q_ivf_centroids(spark, sf_dir)
    cb = (
        cent.withColumn(
            "subspace", (F.col("dim_i") / _PQ_SUBDIM).cast("long")
        )
        .groupBy("label", "subspace")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("dim_i", "centroid"))
                ),
                lambda x: x["centroid"],
            ).alias("c_sub")
        )
    )
    q = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") == 0)
        .select(
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "v_arr"
            )
        )
    )
    lut = (
        cb.crossJoin(F.broadcast(q))
        .select(
            "subspace",
            F.col("label").alias("code"),
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.expr(
                            f"slice(v_arr, subspace * {_PQ_SUBDIM} + 1,"
                            f" {_PQ_SUBDIM})"
                        ),
                        F.col("c_sub"),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("ld"),
        )
    )
    adc = (
        codes.filter(F.col("vec_id") != 0)
        .join(lut, ["subspace", "code"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("ld"), 6).alias("adc_dist"))
    )
    return (
        adc.orderBy("adc_dist", "vec_id")
        .limit(_PQ_TOPK)
        .select("vec_id", "adc_dist")
    )


def _q_ivfpq_search(spark, sf_dir):
    """The canonical 100-TB ANN recipe end-to-end (IVF+PQ, Jégou et
    al. 2011): coarse-quantize every vector to its nearest cell, then
    ADC-score ONLY the query's cell members against the PQ codes — a
    probe touches 1/n_cells of the corpus and pays M lookup-table adds
    per candidate instead of a D-dim dot product. Composes the shared
    `_ivf_assign` coarse stage with the `pq_codes` fine stage; the LUT
    and the query-cell row are both broadcast-sized."""
    codes = _pq_codes_df(spark, sf_dir)
    _, assign, _ = _ivf_assign(spark, sf_dir)
    q_cell = (
        assign.filter(F.col("vec_id") == 0)
        .select(F.col("cell").alias("q_cell"))
    )
    cand = (
        assign.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q_cell), F.col("cell") == F.col("q_cell"))
        .select("vec_id")
    )
    cent = _q_ivf_centroids(spark, sf_dir)
    cb = (
        cent.withColumn(
            "subspace", (F.col("dim_i") / _PQ_SUBDIM).cast("long")
        )
        .groupBy("label", "subspace")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("dim_i", "centroid"))
                ),
                lambda x: x["centroid"],
            ).alias("c_sub")
        )
    )
    q = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") == 0)
        .select(
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "v_arr"
            )
        )
    )
    lut = cb.crossJoin(F.broadcast(q)).select(
        "subspace",
        F.col("label").alias("code"),
        F.round(
            F.aggregate(
                F.zip_with(
                    F.expr(
                        f"slice(v_arr, subspace * {_PQ_SUBDIM} + 1,"
                        f" {_PQ_SUBDIM})"
                    ),
                    F.col("c_sub"),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("ld"),
    )
    adc = (
        codes.join(cand, "vec_id", "left_semi")
        .join(lut, ["subspace", "code"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("ld"), 6).alias("adc_dist"))
    )
    return (
        adc.orderBy("adc_dist", "vec_id")
        .limit(_PQ_TOPK)
        .select("vec_id", "adc_dist")
    )


_SQL_IVFPQ_SEARCH = f"""
WITH {_PQ_CODES_CTES},
cent_arr AS (SELECT label, list(centroid ORDER BY dim_i) AS c_arr
             FROM cent GROUP BY label),
cdist AS (
  SELECT vs.vec_id, cent_arr.label,
         list_reduce(
           list_transform(range(1, len(v_arr) + 1),
                          i -> (v_arr[i] - c_arr[i])
                               * (v_arr[i] - c_arr[i])),
           (a, b) -> a + b) AS dist
  FROM vs CROSS JOIN cent_arr),
cassign AS (
  SELECT vec_id, label AS cell FROM (
    SELECT vec_id, label,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY round(dist, 6), label) AS rk
    FROM cdist) WHERE rk = 1),
cand AS (
  SELECT a.vec_id FROM cassign a,
       (SELECT cell FROM cassign WHERE vec_id = 0) q
  WHERE a.cell = q.cell AND a.vec_id <> 0),
qv AS (SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v_arr
       FROM embeddings WHERE vec_id = 0),
lut AS (
  SELECT cb.subspace, cb.label AS code,
         round(list_reduce(
           list_transform(range(1, {_PQ_SUBDIM} + 1),
             i -> (v_arr[cb.subspace * {_PQ_SUBDIM} + i] - c_sub[i])
                  * (v_arr[cb.subspace * {_PQ_SUBDIM} + i] - c_sub[i])),
           (a, b) -> a + b), 6) AS ld
  FROM cb, qv),
adc AS (
  SELECT c.vec_id, round(SUM(l.ld), 6) AS adc_dist
  FROM codes c
  JOIN cand ON cand.vec_id = c.vec_id
  JOIN lut l ON l.subspace = c.subspace AND l.code = c.code
  GROUP BY c.vec_id)
SELECT vec_id, adc_dist FROM adc
ORDER BY adc_dist, vec_id LIMIT {_PQ_TOPK}
"""


_SQL_PQ_ADC_SEARCH = f"""
WITH {_PQ_CODES_CTES},
qv AS (SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v_arr
       FROM embeddings WHERE vec_id = 0),
lut AS (
  SELECT cb.subspace, cb.label AS code,
         round(list_reduce(
           list_transform(range(1, {_PQ_SUBDIM} + 1),
             i -> (v_arr[cb.subspace * {_PQ_SUBDIM} + i] - c_sub[i])
                  * (v_arr[cb.subspace * {_PQ_SUBDIM} + i] - c_sub[i])),
           (a, b) -> a + b), 6) AS ld
  FROM cb, qv),
adc AS (
  SELECT c.vec_id, round(SUM(l.ld), 6) AS adc_dist
  FROM codes c JOIN lut l ON l.subspace = c.subspace AND l.code = c.code
  WHERE c.vec_id <> 0 GROUP BY c.vec_id)
SELECT vec_id, adc_dist FROM adc
ORDER BY adc_dist, vec_id LIMIT {_PQ_TOPK}
"""


def _q_ivf_search(spark, sf_dir):
    return _ivf_search_impl(spark, sf_dir, nprobe=1)


def _q_ivf_search_nprobe(spark, sf_dir):
    """Multi-probe IVF: the query fans out to its 2 nearest coarse cells
    instead of 1 — the standard recall knob; the probe still touches
    nprobe/n_cells of the corpus, never all of it."""
    return _ivf_search_impl(spark, sf_dir, nprobe=2)


def _ivf_assign(spark, sf_dir):
    """Coarse-quantizer assignment shared by the IVF and IVF+PQ probes:
    returns ``(dist, assign, w)`` — per-(vector, cell) squared L2 over
    PACKED centroid arrays broadcast onto the vectors (corpus × n_cells
    rows, never corpus × cells × dims; index-order fold), the rank-1
    cell per vector, and the ranking window."""
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    cent = _q_ivf_centroids(spark, sf_dir)  # (label, dim_i, centroid)
    cent_arr = (
        cent.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim_i", "centroid"))
            ).alias("s")
        )
        .select(
            "label",
            F.transform("s", lambda x: x["centroid"]).alias("c_arr"),
            F.lit(1).alias("k"),
        )
        # n_cells rows — materialize the coarse-quantizer build once; the
        # assignment plan consumes it in two branches (query cell + corpus
        # cells) and would otherwise rebuild the centroid aggregation twice
        .localCheckpoint(eager=True)
    )
    vecs = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v_arr"),
        F.lit(1).alias("k"),
    )
    dist = vecs.join(F.broadcast(cent_arr), on="k").select(
        "vec_id",
        "label",
        F.aggregate(
            F.zip_with(
                "v_arr", "c_arr", lambda v, c: (v - c) * (v - c)
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("dist"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.round("dist", 6), "label")
    assign = (
        dist.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", F.col("label").alias("cell"))
    )
    return dist, assign, w


def _ivf_search_impl(spark, sf_dir, nprobe: int = 1):
    # IVF assignment + search-within-cell (closing the ivf_centroids loop,
    # VERDICT r01 item 4): every vector is assigned to its nearest coarse
    # centroid (L2), then the query (vec 0) searches top-k **only within
    # its own cell** — the scale path where a probe touches 1/n_cells of
    # the corpus.
    emb = _emb(spark, sf_dir)
    dist, assign, w = _ivf_assign(spark, sf_dir)
    q_cells = (
        dist.filter(F.col("vec_id") == 0)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= nprobe)
        .select(F.col("label").alias("q_cell"))
    )
    cand_ids = (
        assign.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q_cells), F.col("cell") == F.col("q_cell"))
        .select("vec_id")
    )
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    scored = (
        emb.join(cand_ids, on="vec_id", how="left_semi")
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            F.round(_cosine_double(F.col("embedding"), F.col("q_emb")), 4)
            .alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(5)


_SQL_IVF_SEARCH = """
WITH x AS (SELECT label,
                  CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT)
                    AS dim_i,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
cent AS (
  SELECT label, dim_i,
         round(CAST(list_reduce(list_sort(list(v)), (a, b) -> a + b)
                    AS DOUBLE) / count(*), 4) + 0.0 AS centroid
  FROM x GROUP BY 1, 2),
cent_arr AS (
  SELECT label, list(centroid ORDER BY dim_i) AS c_arr FROM cent
  GROUP BY label),
vecs AS (SELECT vec_id,
                list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v_arr
         FROM embeddings),
dist AS (
  SELECT vecs.vec_id, cent_arr.label,
         list_reduce(
           list_transform(range(1, len(v_arr) + 1),
                          i -> (v_arr[i] - c_arr[i])
                               * (v_arr[i] - c_arr[i])),
           (a, b) -> a + b) AS dist
  FROM vecs CROSS JOIN cent_arr),
assign AS (
  SELECT vec_id, label AS cell FROM (
    SELECT vec_id, label,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY round(dist, 6), label) AS rk
    FROM dist) WHERE rk = 1),
cand AS (
  SELECT a.vec_id FROM assign a, (SELECT cell FROM assign WHERE vec_id = 0) q
  WHERE a.cell = q.cell AND a.vec_id <> 0),
q AS (SELECT generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings WHERE vec_id = 0),
nq AS (SELECT sqrt(sum(v * v)) AS nrm FROM q),
ec AS (SELECT e2.vec_id, generate_subscripts(e2.embedding, 1) AS i,
              CAST(unnest(e2.embedding) AS DOUBLE) AS v
       FROM embeddings e2 WHERE e2.vec_id IN (SELECT vec_id FROM cand)),
d AS (SELECT ec.vec_id, sum(ec.v * q.v) AS dot, sqrt(sum(ec.v * ec.v)) AS nrm
      FROM ec JOIN q ON ec.i = q.i GROUP BY ec.vec_id)
SELECT vec_id, round(dot / (d.nrm * nq.nrm), 4) AS score
FROM d, nq ORDER BY score DESC, vec_id ASC LIMIT 5
"""


def _ivf_search_nprobe_sql(nprobe: int) -> str:
    """The ivf_search oracle with the single query-cell CTE swapped for
    the nprobe nearest cells (same dist/assign/rescore CTEs)."""
    old = """cand AS (
  SELECT a.vec_id FROM assign a, (SELECT cell FROM assign WHERE vec_id = 0) q
  WHERE a.cell = q.cell AND a.vec_id <> 0),"""
    new = f"""qcells AS (
  SELECT label AS cell FROM (
    SELECT label, row_number() OVER (ORDER BY round(dist, 6), label) AS rk
    FROM dist WHERE vec_id = 0) WHERE rk <= {nprobe}),
cand AS (
  SELECT a.vec_id FROM assign a JOIN qcells q ON a.cell = q.cell
  WHERE a.vec_id <> 0),"""
    assert old in _SQL_IVF_SEARCH
    return _SQL_IVF_SEARCH.replace(old, new)


def _q_articles_semi_filter(spark, sf_dir):
    # SentenceFilter with article-level predicates pushed through a
    # left-semi join (sql.py:593-676: `article_id IN (SELECT … WHERE
    # journal IS NOT NULL AND publish_time BETWEEN …)`). Article metadata
    # (journal, publish_time) is derived deterministically from doc_id so
    # the oracle can re-derive it; the real parsed-metadata path is
    # articles_stage (extraction/metadata.py), parity-tested in pytest.
    from search_spark.operators.sentence_filter import SentenceFilter

    d = _docs(spark, sf_dir)
    articles = d.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_english"),
        "n_chars",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None))
        .otherwise(
            F.concat(F.lit("Journal "), (F.col("doc_id") % 13).cast("string"))
        )
        .alias("journal"),
        F.date_add(
            F.lit("2019-01-01").cast("date"),
            ((F.col("doc_id") * 17) % 1500).cast("int"),
        ).alias("publish_time"),
    )
    return (
        SentenceFilter(article_key="doc_id")
        .require_english()
        .require_journal()
        .date_range(2020, 2021)
        .apply(
            _tokens(spark, sf_dir),
            articles.filter(F.col("n_chars") >= 100),
        )
    )


_SQL_ARTICLES_SEMI_FILTER = f"""
WITH {_TOKS_SQL}
SELECT doc_id, tpos, tok FROM toks
WHERE doc_id IN (
  SELECT doc_id FROM documents
  WHERE doc_id % 7 <> 0
    AND (DATE '2019-01-01' + CAST((doc_id * 17) % 1500 AS INTEGER))
        BETWEEN DATE '2020-01-01' AND DATE '2021-12-31'
    AND lang = 'en' AND n_chars >= 100)
"""


def _q_measurement_vote(spark, sf_dir):
    # most-common-quantity vote with "empty loses" tie-break
    # (attribute.py:61-143) via operators.attributes.measurement_type_vote;
    # events play the quantities: one measurement per user, quantity type =
    # event_type with 'click' mapped to the untyped "" case
    from pyspark.sql import Window

    from search_spark.operators.attributes import measurement_type_vote

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    quantities = ev.select(
        "user_id",
        F.when(F.col("event_type") == "click", F.lit(""))
        .otherwise(F.col("event_type"))
        .alias("quantity_type"),
        F.row_number().over(w).alias("pos"),
    )
    return measurement_type_vote(quantities, ["user_id"])


_SQL_MEASUREMENT_VOTE = """
WITH q AS (
  SELECT user_id,
         CASE WHEN event_type = 'click' THEN '' ELSE event_type END AS qt,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS pos
  FROM events),
c AS (SELECT user_id, qt, count(*) AS cnt, min(pos) AS fp
      FROM q GROUP BY 1, 2),
r AS (SELECT user_id, qt,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY cnt DESC, (qt = '') ASC, fp ASC)
               AS rk
      FROM c)
SELECT user_id, qt AS measurement_type FROM r WHERE rk = 1
"""


TOPIC_VOCAB = ("spark", "join", "stream", "vector", "dup", "window", "filter")


def _q_topic_rules(spark, sf_dir):
    # real topic-rule evaluation (topic_rule.py:55-127) over topic-LIST
    # columns via F.exists — replacing r01's regex-on-text simplification:
    # accept iff no reject rule matches and ≥1 accept rule matches, rules
    # scoped by (level, source, pattern) with None = wildcard
    from search_spark.operators.topics import TopicRule, check_topic_rules_col

    d = _docs(spark, sf_dir)
    article_topics = F.filter(
        F.array(*[F.lit(t) for t in TOPIC_VOCAB]),
        lambda t: F.col("text").contains(t),
    )
    journal_topics = F.array(F.concat(F.lit("src:"), F.col("source")))
    accept = [
        TopicRule("article", None, "stream|vector"),
        TopicRule("journal", "src3", "src:src3"),
    ]
    reject = [
        TopicRule(None, None, "dup"),
        TopicRule(None, "src5", None),  # source-only rule: pattern=None
    ]
    ok = check_topic_rules_col(
        accept, reject, F.col("source"), article_topics, journal_topics
    )
    return d.filter(ok).select("doc_id", "source")


_TOPIC_VOCAB_SQL = "[" + ", ".join(f"'{t}'" for t in TOPIC_VOCAB) + "]"

_SQL_TOPIC_RULES = f"""
WITH t AS (
  SELECT doc_id, source,
         list_filter({_TOPIC_VOCAB_SQL}, x -> contains(text, x)) AS at,
         ['src:' || source] AS jt
  FROM documents)
SELECT doc_id, source FROM t
WHERE NOT (len(list_filter(at, x -> regexp_matches(x, 'dup'))) > 0
           OR len(list_filter(jt, x -> regexp_matches(x, 'dup'))) > 0
           OR source = 'src5')
  AND (len(list_filter(at, x -> regexp_matches(x, 'stream|vector'))) > 0
       OR (source = 'src3'
           AND len(list_filter(jt, x -> regexp_matches(x, 'src:src3'))) > 0))
"""


def _iob_stream(spark, sf_dir):
    """Synthetic IOB2 token stream: gazetteer tokens get B- tags, their
    immediate successors I- tags (continuation), everything else O; a
    deterministic positional flag plays the punctuation role (documents
    carry no punctuation tokens)."""
    from pyspark.sql import Window

    toks = _tokens(spark, sf_dir)
    gaz = spark.createDataFrame(DOC_GAZETTEER, ["pattern", "g_etype"])
    tagged = toks.join(
        F.broadcast(gaz.filter(F.col("g_etype") != "NaE")),
        toks.tok == F.col("pattern"),
        "left",
    ).select("doc_id", "tpos", "tok", F.col("g_etype").alias("et"))
    w = Window.partitionBy("doc_id").orderBy("tpos")
    with_prev = tagged.withColumn("prev_et", F.lag("et").over(w))
    return with_prev.select(
        "doc_id",
        "tpos",
        "tok",
        F.when(F.col("et").isNotNull(), F.concat(F.lit("B-"), F.col("et")))
        .when(
            F.col("prev_et").isNotNull(),
            F.concat(F.lit("I-"), F.col("prev_et")),
        )
        .otherwise(F.lit("O"))
        .alias("iob"),
        (F.col("tpos") % 7 == 3).alias("ispunct"),
    )


_IOB_STREAM_SQL = f"""
{_TOKS_SQL}, {_GAZ_SQL},
t1 AS (
  SELECT t.doc_id, t.tpos, t.tok, g.entity_type AS et
  FROM toks t LEFT JOIN gaz g
    ON t.tok = g.pattern AND g.entity_type <> 'NaE'),
t2 AS (
  SELECT doc_id, tpos, tok,
         CASE WHEN et IS NOT NULL THEN 'B-' || et
              WHEN lag(et) OVER w IS NOT NULL
                THEN 'I-' || lag(et) OVER w
              ELSE 'O' END AS iob,
         (tpos % 7 = 3) AS ispunct
  FROM t1 WINDOW w AS (PARTITION BY doc_id ORDER BY tpos))
"""


def _q_iob_punct_carry(spark, sf_dir):
    # remove_punctuation port (eval.py:231-263) as a distributed op:
    # B- tags on "punctuation" tokens land on the next non-punct token
    # (I-X → B-X, O stays O), punct rows drop — golden-fixture parity in
    # tests/test_eval_ports.py; here the scaled-out oracle run
    from search_spark.operators.evaluation import remove_punctuation_iob

    stream = _iob_stream(spark, sf_dir)
    out = remove_punctuation_iob(
        stream,
        tag_cols=["iob"],
        order_col="tpos",
        group_cols=["doc_id"],
        punct_col="ispunct",
    )
    return out.filter(F.col("iob") != "O").select("doc_id", "tpos", "iob")


_SQL_IOB_PUNCT_CARRY = f"""
WITH {_IOB_STREAM_SQL},
t3 AS (
  SELECT *,
         sum(CASE WHEN ispunct THEN 0 ELSE 1 END)
           OVER (PARTITION BY doc_id ORDER BY tpos
                 ROWS UNBOUNDED PRECEDING) AS slot
  FROM t2),
carr AS (
  SELECT DISTINCT doc_id, slot + 1 AS slot
  FROM t3 WHERE ispunct AND iob LIKE 'B-%'),
outp AS (
  SELECT t3.doc_id, t3.tpos,
         CASE WHEN c.slot IS NOT NULL AND t3.iob <> 'O'
              THEN 'B' || substr(t3.iob, 2)
              ELSE t3.iob END AS iob
  FROM t3 LEFT JOIN carr c
    ON t3.doc_id = c.doc_id AND t3.slot = c.slot
  WHERE NOT t3.ispunct)
SELECT doc_id, tpos, iob FROM outp WHERE iob <> 'O'
"""


def _q_iob_token_counts(spark, sf_dir):
    # unique_etypes in both modes (eval.py:266-309): entity mode counts
    # B- tags, token mode counts B- and I- tags, per entity type
    from search_spark.operators.evaluation import iob_type_counts

    stream = _iob_stream(spark, sf_dir).select("iob")
    ent = iob_type_counts(stream, "iob", mode="entity").withColumn(
        "mode", F.lit("entity")
    )
    tok = iob_type_counts(stream, "iob", mode="token").withColumn(
        "mode", F.lit("token")
    )
    return ent.unionByName(tok).select("mode", "entity_type", "n")


_SQL_IOB_TOKEN_COUNTS = f"""
WITH {_IOB_STREAM_SQL},
tagged AS (
  SELECT substr(iob, 1, 1) AS prefix, substr(iob, 3) AS entity_type
  FROM t2 WHERE iob <> 'O'),
types AS (SELECT DISTINCT entity_type FROM tagged),
ec AS (SELECT entity_type, count(*) AS n FROM tagged
       WHERE prefix = 'B' GROUP BY 1),
tc AS (SELECT entity_type, count(*) AS n FROM tagged
       WHERE prefix IN ('B', 'I') GROUP BY 1)
SELECT 'entity' AS mode, t.entity_type,
       CAST(COALESCE(ec.n, 0) AS BIGINT) AS n
FROM types t LEFT JOIN ec ON t.entity_type = ec.entity_type
UNION ALL
SELECT 'token' AS mode, t.entity_type,
       CAST(COALESCE(tc.n, 0) AS BIGINT) AS n
FROM types t LEFT JOIN tc ON t.entity_type = tc.entity_type
"""


def _q_dedup_incremental(spark, sf_dir):
    # incremental ingest dedup — the shape a 100-TB corpus append runs
    # every batch: new documents are checked against the EXISTING corpus
    # via MinHash-band collision (anti-join on band buckets), never
    # all-pairs. Here "existing" = even doc_ids, "new" = odd doc_ids;
    # output = new docs that collide with any existing doc (candidate
    # duplicates to route to the exact verifier).
    bands = _bands_from_sig(_q_dedup_minhash(spark, sf_dir))
    existing = bands.filter(F.col("doc_id") % 2 == 0).select(
        "band", "band_hash", F.col("doc_id").alias("existing_doc_id")
    )
    new = bands.filter(F.col("doc_id") % 2 == 1)
    return (
        new.join(existing, on=["band", "band_hash"])
        .groupBy(F.col("doc_id").alias("new_doc_id"))
        .agg(
            F.countDistinct("existing_doc_id").alias("n_collisions"),
            F.min("existing_doc_id").alias("first_match"),
        )
    )


_SQL_DEDUP_INCREMENTAL = f"""
WITH {_SHINGLES_SQL},
sig AS (
  SELECT doc_id, {", ".join(
    f"min(md5('{j}' || ':' || shingle)) AS h{j}" for j in range(_N_MINHASH)
  )}
  FROM sh GROUP BY doc_id),
bands AS (
  SELECT 0 AS band,
         md5(h0 || '|' || h1 || '|' || h2 || '|' || h3) AS band_hash, doc_id
  FROM sig
  UNION ALL
  SELECT 1 AS band,
         md5(h4 || '|' || h5 || '|' || h6 || '|' || h7) AS band_hash, doc_id
  FROM sig)
SELECT n.doc_id AS new_doc_id,
       CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n_collisions,
       CAST(min(e.doc_id) AS BIGINT) AS first_match
FROM bands n JOIN bands e
  ON n.band = e.band AND n.band_hash = e.band_hash AND e.doc_id % 2 = 0
WHERE n.doc_id % 2 = 1
GROUP BY n.doc_id
"""


def _q_dedup_clusters(spark, sf_dir):
    # the dedup endgame: band candidate pairs → connected components →
    # duplicate CLUSTERS with a deterministic keep-first representative
    # (min doc_id) — what a corpus-dedup job actually emits. Components
    # via the engine's large-star/small-star operator (string ids:
    # zero-padded so lexicographic min == numeric min); the DuckDB oracle
    # re-derives them with a recursive-CTE transitive closure.
    from search_spark.operators.canonicalize import connected_components

    pairs = _minhash_band_pairs(spark, sf_dir)
    pad = lambda c: F.lpad(F.col(c).cast("string"), 12, "0")  # noqa: E731
    edges = pairs.select(
        pad("doc_id_a").alias("src"), pad("doc_id_b").alias("dst")
    # candidate generation (shingle agg → signatures → band join) is the
    # expensive subtree; CC consumes `edges` twice (node set + edge set) —
    # materialize it once
    ).localCheckpoint(eager=True)
    comps = connected_components(edges).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("rep"),
    )
    docs = _docs(spark, sf_dir).select("doc_id")
    return docs.join(comps, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce("rep", "doc_id").alias("cluster_rep"),
        (F.coalesce("rep", "doc_id") == F.col("doc_id")).cast("int")
        .alias("is_kept"),
    )


_SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_BAND_PAIRS_SQL},
sym AS (SELECT doc_id_a AS a, doc_id_b AS b FROM cand
        UNION SELECT doc_id_b, doc_id_a FROM cand),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
comp AS (SELECT a AS doc_id, least(a, min(b)) AS rep FROM reach
         WHERE a <> b GROUP BY a)
SELECT d.doc_id,
       CAST(COALESCE(comp.rep, d.doc_id) AS BIGINT) AS cluster_rep,
       CAST(CASE WHEN COALESCE(comp.rep, d.doc_id) = d.doc_id
                 THEN 1 ELSE 0 END AS INTEGER) AS is_kept
FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id
"""


_DOMAIN_HOSTS = [
    "news.example.com", "www.example.com", "blog.sample.org", "sample.org",
    "cdn.media.net:8080", "media.net", "localhost",
]
# registered domain each host resolves to (ground truth for the oracle)
_DOMAIN_TRUTH = [
    "example.com", "example.com", "sample.org", "sample.org",
    "media.net", "media.net", "localhost",
]


def _q_domain_stats(spark, sf_dir):
    """Per-registered-domain corpus accounting (the first rollup a
    Common-Crawl-scale crawl runs: docs, language spread, size per site).
    Urls are synthesized deterministically over 7 host variants
    (subdomains, www, ports, single-label) because documents carry none;
    domain extraction is pure codegen regex, the rollup one hash
    aggregation. The oracle maps each host variant to its ground-truth
    registered domain directly — checking the extraction, not mirroring
    it."""
    from search_spark.operators.urls import registered_domain_col

    d = _docs(spark, sf_dir)
    hosts = F.array(*[F.lit(h) for h in _DOMAIN_HOSTS])
    url = F.concat(
        F.lit("https://"),
        F.element_at(hosts, (F.col("doc_id") % 7 + 1).cast("int")),
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
    )
    return (
        d.select(
            registered_domain_col(url).alias("domain"), "lang", "n_chars"
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.round(F.avg(F.col("n_chars").cast("double")), 4).alias(
                "avg_chars"
            ),
        )
    )


_SQL_DOMAIN_STATS = """
WITH d AS (
  SELECT doc_id, lang, n_chars,
         CASE CAST(doc_id % 7 AS INTEGER)
           WHEN 0 THEN 'example.com' WHEN 1 THEN 'example.com'
           WHEN 2 THEN 'sample.org'  WHEN 3 THEN 'sample.org'
           WHEN 4 THEN 'media.net'   WHEN 5 THEN 'media.net'
           ELSE 'localhost' END AS domain
  FROM documents)
SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
FROM d GROUP BY domain
"""


def _synth_canon_urls(spark, sf_dir):
    """(doc_id, canonical_url): urls synthesized deterministically from
    doc_id (documents carry none) — ~50 pages × several surface variants
    each — and collapsed through operators/urls.canonical_url_col."""
    from search_spark.operators.urls import canonical_url_col

    d = _docs(spark, sf_dir)
    raw = F.concat(
        F.lit("HTTPS://WWW.Example.org/Page/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("?utm_source=feed&ref="),
                        (F.col("doc_id") % 7).cast("string")))
        .when(F.col("doc_id") % 4 == 1, F.lit("/"))
        .when(F.col("doc_id") % 4 == 2, F.lit("#frag"))
        .otherwise(F.lit("")),
    )
    return d.select("doc_id", canonical_url_col(raw).alias("canonical_url"))


def _q_url_dedup(spark, sf_dir):
    # webtext url-canonicalization dedup (operators/urls.py): raw urls with
    # tracking params / fragments / www / trailing slashes collapse to one
    # canonical key, then exact dedup is a hash agg with keep-first.
    return (
        _synth_canon_urls(spark, sf_dir)
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


# shared by url_dedup and latest_capture: synthesized raw urls + the SQL
# twin of operators/urls.canonical_url_col
_URL_RAW_CANON_CTES = """raw AS (
  SELECT doc_id,
         'HTTPS://WWW.Example.org/Page/' || CAST(doc_id % 50 AS VARCHAR) ||
         CASE WHEN doc_id % 4 = 0
                THEN '?utm_source=feed&ref=' || CAST(doc_id % 7 AS VARCHAR)
              WHEN doc_id % 4 = 1 THEN '/'
              WHEN doc_id % 4 = 2 THEN '#frag'
              ELSE '' END AS url
  FROM documents),
canon AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(lower(url), '#.*', '', 'g'),
                     '([?&])utm_[a-z]+=[^&]*', '\\1', 'g'),
                   '&&+', '&', 'g'),
                 '\\?&', '?', 'g'),
               '[?&]+$', '', 'g'),
             '^https?://(www\\.)?', '', 'g'),
           '/$', '', 'g') AS canonical_url
  FROM raw)"""


_SQL_URL_DEDUP = f"""
WITH {_URL_RAW_CANON_CTES}
SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_dups,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id
FROM canon GROUP BY canonical_url
"""


def _q_latest_capture(spark, sf_dir):
    """Recrawl dedup by capture time (the Common-Crawl keep-latest
    policy: a url recrawled across snapshots keeps only its newest
    capture): canonicalize the url, then keep the max-timestamp capture
    per canonical key — doc_id descending as the deterministic
    tie-break when two captures share a timestamp. Capture epochs are
    synthesized deterministically from doc_id (the parquet fixtures
    carry no warc_ts; the WARC source `io/warc.py` supplies a real one).
    Portable two-step argmax: max epoch per url, then max doc_id at
    that epoch — one hash aggregate each, no window over the corpus."""
    u = _synth_canon_urls(spark, sf_dir).select(
        "doc_id",
        "canonical_url",
        (F.lit(1_700_000_000) + (F.col("doc_id") * 37) % 100_000).alias(
            "ts_epoch"
        ),
    )
    m = u.groupBy("canonical_url").agg(
        F.count(F.lit(1)).alias("n_captures"),
        F.max("ts_epoch").alias("latest_epoch"),
    )
    keep = (
        u.join(
            m.select("canonical_url", "latest_epoch"),
            ["canonical_url"],
        )
        .filter(F.col("ts_epoch") == F.col("latest_epoch"))
        .groupBy("canonical_url")
        .agg(F.max("doc_id").alias("keep_doc_id"))
    )
    return m.join(keep, "canonical_url").select(
        "canonical_url", "n_captures", "latest_epoch", "keep_doc_id"
    )


_SQL_LATEST_CAPTURE = f"""
WITH {_URL_RAW_CANON_CTES},
u AS (SELECT doc_id, canonical_url,
             1700000000 + (doc_id * 37) % 100000 AS ts_epoch
      FROM canon),
m AS (SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_captures,
             MAX(ts_epoch) AS latest_epoch
      FROM u GROUP BY canonical_url),
keep AS (SELECT u.canonical_url, MAX(u.doc_id) AS keep_doc_id
         FROM u JOIN m ON m.canonical_url = u.canonical_url
                      AND u.ts_epoch = m.latest_epoch
         GROUP BY u.canonical_url)
SELECT m.canonical_url, m.n_captures,
       CAST(m.latest_epoch AS BIGINT) AS latest_epoch,
       CAST(keep.keep_doc_id AS BIGINT) AS keep_doc_id
FROM m JOIN keep ON keep.canonical_url = m.canonical_url
"""


_QG_MIN_TOKENS = 20
_QG_MAX_STOP = 0.30
_QG_MIN_TTR = 0.35


def _q_quality_gate(spark, sf_dir):
    # composite keep/drop decision — the training-data quality gate that
    # fuses language-ID, length, stopword ratio and type-token ratio into
    # one pass (all JVM higher-order functions; one scan, no shuffle)
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.split("text", " ").alias("t")
    )
    n = F.size("t").cast("long")
    n_stop = F.size(F.filter(F.col("t"), lambda x: x.isin(*STOPWORDS))).cast(
        "long"
    )
    ttr = F.size(F.array_distinct("t")) / n
    keep = (
        (F.col("lang") == "en")
        & (n >= _QG_MIN_TOKENS)
        & (n_stop / n <= _QG_MAX_STOP)
        & (ttr >= _QG_MIN_TTR)
    )
    reason = (
        F.when(F.col("lang") != "en", F.lit("lang"))
        .when(n < _QG_MIN_TOKENS, F.lit("too_short"))
        .when(n_stop / n > _QG_MAX_STOP, F.lit("stopword_ratio"))
        .when(ttr < _QG_MIN_TTR, F.lit("low_ttr"))
        .otherwise(F.lit("ok"))
    )
    # int not boolean: the driver's value canonicalizer has known-good
    # handling for ints; 0/1 avoids engine-dependent bool string forms
    return d.select(
        "doc_id", keep.cast("int").alias("keep"), reason.alias("reason")
    )


_SQL_QUALITY_GATE = f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
m AS (SELECT doc_id, lang,
             len(t) AS n,
             len(list_filter(t, x -> x IN ({", ".join(
                 "'%s'" % s for s in STOPWORDS)}))) AS n_stop,
             len(list_distinct(t)) * 1.0 / len(t) AS ttr
      FROM t)
SELECT doc_id,
       CAST(lang = 'en' AND n >= {_QG_MIN_TOKENS}
        AND n_stop * 1.0 / n <= {_QG_MAX_STOP}
        AND ttr >= {_QG_MIN_TTR} AS INTEGER) AS keep,
       CASE WHEN lang <> 'en' THEN 'lang'
            WHEN n < {_QG_MIN_TOKENS} THEN 'too_short'
            WHEN n_stop * 1.0 / n > {_QG_MAX_STOP} THEN 'stopword_ratio'
            WHEN ttr < {_QG_MIN_TTR} THEN 'low_ttr'
            ELSE 'ok' END AS reason
FROM m
"""


def _q_search_hydrated(spark, sf_dir):
    # result hydration (sql.py:79-124): after top-k ids are chosen, fetch
    # the display columns in result order — the widget-layer SELECT that
    # follows every search; a broadcast join of the k-row result set onto
    # the documents table, ordered by rank
    topk = _q_semantic_search(spark, sf_dir)  # (vec_id, score)
    from pyspark.sql import Window

    ranked = topk.withColumn(
        "rank",
        F.row_number()
        .over(
            Window.orderBy(F.desc("score"), F.asc("vec_id"))
        )
        .cast("long"),
    )
    d = _docs(spark, sf_dir)
    return (
        F.broadcast(ranked)
        .join(d, ranked.vec_id == d.doc_id, "inner")
        .select(
            "rank", "vec_id", "score", "source", "n_chars",
            F.substring("text", 1, 40).alias("snippet"),
        )
    )


_SQL_SEARCH_HYDRATED = f"""
WITH {_EMB_EXPLODED_SQL},
q AS (SELECT i, v FROM e WHERE vec_id = 0),
nq AS (SELECT sqrt(sum(v * v)) AS nrm FROM q),
keep AS (SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 100),
d AS (SELECT e.vec_id, sum(e.v * q.v) AS dot, sqrt(sum(e.v * e.v)) AS nrm
      FROM e JOIN q ON e.i = q.i
      WHERE e.vec_id IN (SELECT doc_id FROM keep) GROUP BY e.vec_id),
topk AS (SELECT vec_id, round(dot / (d.nrm * nq.nrm), 4) AS score
         FROM d, nq ORDER BY score DESC, vec_id ASC LIMIT 10),
ranked AS (SELECT vec_id, score,
                  CAST(row_number() OVER (ORDER BY score DESC, vec_id ASC)
                       AS BIGINT) AS rank
           FROM topk)
SELECT rank, r.vec_id, score, doc.source, doc.n_chars,
       substr(doc.text, 1, 40) AS snippet
FROM ranked r JOIN documents doc ON r.vec_id = doc.doc_id
"""


# --- pipeline / UDF-stage entries with pure-Python-derived oracles --------
# (DuckDB cannot re-derive these from the parquet tables; the oracle SQL is
# a VALUES table built in plain Python from ground truth — see oracles.py)

def _q_kg_triples_webpages(spark, sf_dir):
    """The real pipeline: synthetic web_pages → extract → segment → NER →
    relations → link → canonicalize → triples. Corpus is deterministic
    (seed=42), independent of sf_dir. Projected to the distinct
    ``(subj, pred, obj, prov)`` triple set — the KG output contract the
    oracle (datagen ground truth + union-find canonicalization) re-derives
    without Spark."""
    from search_spark import datagen
    from search_spark.pipeline import PipelineConfig, build_triples

    pages = datagen.generate_web_pages(spark, 80, seed=42)
    triples = build_triples(spark, pages, PipelineConfig())
    return triples.select("subj", "pred", "obj", "prov").distinct()


def _q_multimodal_features(spark, sf_dir):
    """Multimodal feature stage, projected to a driver-checkable shape:
    the feature vector explodes to ``(dim_i, v)`` rounded doubles (a list
    column is unhashable under the driver's canonicalizer — VERDICT r01)."""
    from search_spark.operators.multimodal import feature_stage, synthetic_assets

    feats = feature_stage(synthetic_assets(spark, 64, seed=7))
    return feats.select(
        "asset_id",
        "media_type",
        "payload_sha",
        "n_bytes",
        F.posexplode("feature").alias("dim_i", "v"),
    ).select(
        "asset_id",
        "media_type",
        "payload_sha",
        "n_bytes",
        F.col("dim_i").cast("long").alias("dim_i"),
        # float32 → double → HALF_UP round; +0.0 canonicalizes −0.0
        (F.round(F.col("v").cast("double"), 6) + F.lit(0.0)).alias("v"),
    )


MULTIFORMAT_N_DOCS = 40


def multiformat_fixture_rows() -> list[tuple]:
    """Deterministic mixed-format corpus: html, CORD-19 JSON, PubMed XML and
    TEI XML — one fixture per registered parser format."""
    import json as _json

    rows = []
    for i in range(MULTIFORMAT_N_DOCS):
        if i % 4 == 0:
            raw = (
                f"<html><body><h2>S{i}</h2><p>Glucose sample {i} rises "
                f"in Diabetes.</p></body></html>"
            ).encode()
            fmt = "html"
        elif i % 4 == 1:
            raw = _json.dumps(
                {
                    "metadata": {
                        "title": f"Doc {i}",
                        "authors": [
                            {"first": "Jo", "middle": ["Q."], "last": "Public",
                             "suffix": ""}
                        ],
                    },
                    "abstract": [{"text": f"Abstract {i} on Insulin."}],
                    "body_text": [
                        {"section": "Body", "text": f"Mouse study {i}."}
                    ],
                    "ref_entries": {},
                }
            ).encode()
            fmt = "cord19_json"
        elif i % 4 == 2:
            raw = (
                f"<PubmedArticle><MedlineCitation><PMID>{1000 + i}</PMID>"
                f"<Article><ArticleTitle>Study {i}</ArticleTitle>"
                f"<Journal><Title>J Synth</Title></Journal>"
                f"<Abstract><AbstractText>Aspirin finding {i} in Humans."
                f"</AbstractText></Abstract>"
                f'<AuthorList><Author ValidYN="Y"><LastName>Doe</LastName>'
                f"<ForeName>Jane</ForeName></Author></AuthorList>"
                f"</Article></MedlineCitation>"
                f"<PubmedData><ArticleIdList>"
                f'<ArticleId IdType="doi">10.1000/x{i}</ArticleId>'
                f"</ArticleIdList></PubmedData></PubmedArticle>"
            ).encode()
            fmt = "pubmed_xml"
        else:
            raw = (
                f'<TEI xmlns="http://www.tei-c.org/ns/1.0"><teiHeader>'
                f"<fileDesc><titleStmt><title>TEI {i}</title></titleStmt>"
                f"<sourceDesc><biblStruct><analytic><author><persName>"
                f'<forename type="first">Ada</forename>'
                f"<surname>Lovelace</surname></persName></author></analytic>"
                f'<idno type="DOI">10.2000/t{i}</idno>'
                f"</biblStruct></sourceDesc></fileDesc></teiHeader>"
                f"<text><body><div><head>Results {i}</head>"
                f"<p>ACE2 level {i} changed.</p><formula>x = 1</formula>"
                f"<p>shows the Malaria link</p></div></body></text></TEI>"
            ).encode()
            fmt = "tei_xml"
        rows.append((f"https://example.org/mf/{i}", fmt, raw))
    return rows


def _q_multiformat_extract(spark, sf_dir):
    """Mixed-format corpus through the parser registry (ArticleParser slot,
    extraction/parsers.py): html + CORD-19 JSON + PubMed XML + TEI XML in
    one scan, per-row dispatch inside the Arrow batch."""
    from search_spark.extraction.parsers import extract_stage_multi

    pages = spark.createDataFrame(
        multiformat_fixture_rows(), ["url", "source_format", "html"]
    )
    return extract_stage_multi(pages, english_only=False)


WARC_INGEST_N = 48
WARC_INGEST_SEED = 11


def _q_warc_ingest(spark, sf_dir):
    """WARC container roundtrip over the distributed sink + reader
    (io/warc.py): web_pages → Common-Crawl-framed WARC files (one gzip
    member per record, one file per partition, executor-side) → binaryFile
    scan → record parse in Arrow batches. Output is the per-url byte-level
    identity proof (md5 + length of the html payload and the record's
    WARC-Date), checked against pure-Python ground truth from the
    (seed, doc_id) generator — the writer/reader pair never sees the
    oracle's derivation. Corpus is deterministic, independent of sf_dir."""
    import shutil
    import tempfile

    from search_spark import datagen
    from search_spark.io import warc as warc_io

    out = os.path.join(
        tempfile.gettempdir(),
        f"search_spark_warc_{WARC_INGEST_N}_{WARC_INGEST_SEED}",
    )
    shutil.rmtree(out, ignore_errors=True)
    pages = datagen.generate_web_pages(
        spark, WARC_INGEST_N, seed=WARC_INGEST_SEED, partitions=4
    )
    warc_io.write_warc(pages, out).collect()  # the action IS the write
    return warc_io.read_warc(spark, out).select(
        "url",
        F.col("warc_ts").cast("long").alias("ts_epoch"),
        F.length("html").cast("long").alias("n_html_bytes"),
        F.md5(F.col("html")).alias("html_md5"),
    )


WARC_CDX_MOD = 3  # lookup subtree: urls example.org/d3/*


def _q_warc_cdx_lookup(spark, sf_dir):
    """CDX point lookup (io/warc.py): write the corpus once with CDXJ
    sidecars (SURT-sorted (urlkey, offset, length) per gzip member), scan
    only the *index* with a JVM ``from_json`` parse, prune to one SURT
    path-subtree prefix, then byte-range-fetch exactly those records —
    I/O proportional to the lookup result, never a corpus scan. This is the
    Common Crawl cc-index access pattern; at 10^12 pages it is the only
    viable "re-extract these urls" path."""
    import shutil
    import tempfile

    from search_spark import datagen
    from search_spark.io import warc as warc_io

    out = os.path.join(
        tempfile.gettempdir(),
        f"search_spark_warccdx_{WARC_INGEST_N}_{WARC_INGEST_SEED}",
    )
    shutil.rmtree(out, ignore_errors=True)
    pages = datagen.generate_web_pages(
        spark, WARC_INGEST_N, seed=WARC_INGEST_SEED, partitions=4
    )
    warc_io.write_warc(pages, out, cdx=True).collect()
    cdx = warc_io.read_cdx(spark, out)
    hits = cdx.filter(
        F.col("urlkey").startswith(f"org,example)/d{WARC_CDX_MOD}/")
    )
    return warc_io.fetch_records(spark, hits).select(
        "url",
        F.col("warc_ts").cast("long").alias("ts_epoch"),
        F.md5(F.col("html")).alias("html_md5"),
    )


TFIDF_QUERY_TEXT = "stream hash join window"
TFIDF_MAX_FEATURES = 256
TFIDF_TOPK = 10


def _q_tfidf_search(spark, sf_dir):
    """Semantic search with the TF-IDF EmbeddingModel (VERDICT r2 item 5):
    a second, genuinely different model behind the same embed_many hook as
    hash-embed (the reference ships SklearnVectorizer beside the
    transformer, embedding_models.py:171-237). fit = one corpus
    aggregation; transform = fitted vocabulary captured in the UDF closure;
    scoring = JVM-codegen cosine against the query vector."""
    from search_spark.operators.linking import embed_text_column
    from search_spark.operators.tfidf import TfidfEmbeddingModel

    d = _docs(spark, sf_dir).select("doc_id", "text")
    model = TfidfEmbeddingModel.fit(d, "text", TFIDF_MAX_FEATURES)
    emb = embed_text_column(d, "text", "emb", model=model)

    qv = model.embed_many([TFIDF_QUERY_TEXT])[0]
    # sequential left fold (matches the JVM F.aggregate and the oracle's
    # index-order list_reduce bit-for-bit; no numpy pairwise summation)
    sq = 0.0
    for x in qv:
        sq += x * x
    norm_q = math.sqrt(sq)

    q_lit = F.array(*[F.lit(float(x)) for x in qv])
    dot = F.aggregate(
        F.zip_with(F.col("emb"), q_lit, lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    norm_d = F.sqrt(
        F.aggregate(F.col("emb"), F.lit(0.0), lambda a, x: a + x * x)
    )
    # guard: a doc with no vocabulary tokens has norm 0 → NaN score, and
    # Spark sorts NaN above every double — exclude instead
    scored = emb.withColumn(
        "score",
        F.when(norm_d > 0, dot / (norm_d * F.lit(norm_q))).otherwise(
            F.lit(0.0)
        ),
    )
    return (
        scored.filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(TFIDF_TOPK)
        .select("doc_id", F.round("score", 6).alias("score"))
    )


def _tfidf_query_values() -> str:
    from collections import Counter

    from search_spark.operators.tfidf import tokenize

    counts = Counter(tokenize(TFIDF_QUERY_TEXT))
    return ", ".join(f"('{t}', {c})" for t, c in sorted(counts.items()))


_SQL_TFIDF_SEARCH = f"""
WITH qt AS (SELECT * FROM (VALUES {_tfidf_query_values()}) AS t(term, qtf)),
params AS (SELECT count(*) AS n FROM documents),
toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9_]{{2,}}')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
stats AS (SELECT term, sum(tf) AS ctf, count(*) AS dfreq FROM tf GROUP BY term),
vocab AS (SELECT term, dfreq FROM stats ORDER BY ctf DESC, term LIMIT {TFIDF_MAX_FEATURES}),
idf AS (
  SELECT term, row_number() OVER (ORDER BY term) AS vix,
         ln((1.0 + (SELECT n FROM params)) / (1.0 + dfreq)) + 1.0 AS idf
  FROM vocab),
w AS (SELECT t.doc_id, i.term, i.vix, t.tf * i.idf AS wd
      FROM tf t JOIN idf i USING (term)),
norms AS (
  SELECT doc_id,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(wd * wd ORDER BY vix)), (a, b) -> a + b)) AS nd
  FROM w GROUP BY doc_id),
qw AS (SELECT i.term, i.vix, q.qtf * i.idf AS wq
       FROM qt q JOIN idf i USING (term)),
qnorm AS (
  SELECT sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(wq * wq ORDER BY vix)), (a, b) -> a + b)) AS nq
  FROM qw),
dots AS (
  SELECT w.doc_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(w.wd * q.wq ORDER BY w.vix)), (a, b) -> a + b) AS dot
  FROM w JOIN qw q USING (term) GROUP BY w.doc_id)
SELECT d.doc_id,
       round(d.dot / (n.nd * (SELECT nq FROM qnorm)), 6) AS score
FROM dots d JOIN norms n USING (doc_id)
ORDER BY d.dot / (n.nd * (SELECT nq FROM qnorm)) DESC, d.doc_id
LIMIT {TFIDF_TOPK}
"""


PRODIGY_N = 40


def _q_prodigy_annotations(spark, sf_dir):
    """Prodigy JSONL → per-token IOB2 rows (annotations2df,
    mining/eval.py:92-156): rejected records dropped, span token ranges
    become B-/I- tags, everything else O — one Arrow pass over the raw
    lines (extraction/prodigy.py), feeding the eval-port family."""
    from search_spark.extraction.prodigy import annotations_stage
    from search_spark.oracles import prodigy_fixture_lines

    lines = spark.createDataFrame(
        [(ln,) for ln in prodigy_fixture_lines(PRODIGY_N)], ["value"]
    )
    return annotations_stage(lines)


PUBMED_TOPICS_N = 60


def _pubmed_topic_pages(spark):
    from search_spark.oracles import pubmed_topic_fixture_rows

    return spark.createDataFrame(
        pubmed_topic_fixture_rows(PUBMED_TOPICS_N), ["url", "html"]
    )


def _q_pubmed_topic_extract(spark, sf_dir):
    """Article-topic extraction from PubMed XML (<MeshHeadingList>
    descriptors, topic.py:464-487) — one Arrow pass over the XML column,
    exploded to one row per topic; qualifiers/major-topic flags parse but
    only descriptor names surface (reference semantics)."""
    from search_spark.extraction.topics import pubmed_topics_stage

    pages = _pubmed_topic_pages(spark)
    topics = pubmed_topics_stage(pages, xml_col="html")
    return topics.select(
        "url",
        F.posexplode("article_topics").alias("tpos", "topic"),
        "medline_ta",
    ).select("url", "tpos", "topic", "medline_ta")


def _q_topic_rules_extracted(spark, sf_dir):
    """Topic rules evaluated over topic lists extracted from the documents
    themselves (VERDICT r2 item 3): PubMed article topics from
    <MeshHeadingList>, journal topics via the local NLM-catalog dim-table
    join (broadcast; the reference's per-article HTTP call,
    topic.py:489-517), then the same F.exists rule machinery as
    topic_rules."""
    from search_spark.extraction.topics import (
        attach_journal_topics,
        pubmed_topics_stage,
    )
    from search_spark.operators.topics import TopicRule, check_topic_rules_col
    from search_spark.oracles import JOURNAL_CATALOG

    pages = _pubmed_topic_pages(spark)
    topics = pubmed_topics_stage(pages, xml_col="html")
    catalog = spark.createDataFrame(
        [(ta, ts) for ta, ts in JOURNAL_CATALOG.items()],
        schema="medline_ta string, journal_topics array<string>",
    )
    enriched = attach_journal_topics(topics, catalog)
    accept = [
        TopicRule("article", None, "^Neuro"),
        TopicRule("journal", None, "Medicine"),
    ]
    reject = [TopicRule(None, None, "Retracted")]
    ok = check_topic_rules_col(
        accept,
        reject,
        F.lit("pubmed"),
        F.col("article_topics"),
        F.col("journal_topics"),
    )
    return enriched.select("url", ok.cast("int").alias("accepted"))


def _mesh_lines_df(spark):
    from search_spark.oracles import mesh_nt_fixture_lines

    return spark.createDataFrame(
        [(ln,) for ln in mesh_nt_fixture_lines()], ["value"]
    )


def _q_mesh_tree_numbers(spark, sf_dir):
    """Distributed MeSH RDF N-triples parse (mesh.py:157-239): raw lines →
    (tree_number, label), pure JVM regex over the scan — the reference
    streams the ~half-GB .nt file single-threaded on the driver."""
    from search_spark.extraction.mesh import tree_numbers_stage

    return tree_numbers_stage(_mesh_lines_df(spark))


def _q_mesh_resolved_topics(spark, sf_dir):
    """Topic lists expanded with all MeSH ancestor topics
    (mesh.py:91-155 resolve_parents, applied in topic_extract.py:172-217
    before rule filtering): broadcast (tree_number, label) dim + prefix
    slices via transform/slice higher-order functions — zero UDF."""
    from search_spark.extraction.mesh import (
        resolve_parent_topics,
        tree_numbers_stage,
    )
    from search_spark.oracles import mesh_topic_doc_rows

    tree = tree_numbers_stage(_mesh_lines_df(spark), validate=False)
    docs = spark.createDataFrame(
        mesh_topic_doc_rows(), schema="url string, topics array<string>"
    )
    return resolve_parent_topics(docs, tree, ["url"], topics_col="topics")


# -- graph analytics over the materialized triples --------------------------

def _kg_edge_instances(spark, sf_dir, parity: int | None = None):
    """Entity co-occurrence multigraph: one (src, dst) row per ordered
    mention pair within the relation window (``b.tpos - a.tpos ≤
    REL_DISTANCE``), src the earlier mention. This is the alias/similarity
    edge table that canonicalization and the graph diagnostics run over —
    a per-document self-join on the mention table, shuffle-partitioned on
    ``doc_id`` (never cross-document), NaE already excluded upstream.
    ``parity`` restricts to even/odd doc_ids — the deterministic two-way
    batch split the incremental-PageRank query ingests."""
    m = _doc_mentions(spark, sf_dir)
    if parity is not None:
        m = m.filter(F.col("doc_id") % 2 == parity)
    a = m.select(
        "doc_id",
        F.col("tpos").alias("a_tpos"),
        F.col("mention").alias("src"),
    )
    b = m.select(
        "doc_id",
        F.col("tpos").alias("b_tpos"),
        F.col("mention").alias("dst"),
    )
    return (
        a.join(b, on="doc_id")
        .filter(
            (F.col("b_tpos") > F.col("a_tpos"))
            & (F.col("b_tpos") - F.col("a_tpos") <= REL_DISTANCE)
        )
        .select("src", "dst")
    )


_EDGES_SQL_BODY = f"""
edges AS (
  SELECT a.mention AS src, b.mention AS dst
  FROM mentions a JOIN mentions b
    ON a.doc_id = b.doc_id
   AND b.tpos > a.tpos AND b.tpos - a.tpos <= {REL_DISTANCE})
"""


def _q_kg_entity_degree(spark, sf_dir):
    """Hub detection: provenance-weighted in/out degree plus distinct
    neighbor counts per entity — the first diagnostic a KG builder runs
    (head-entity skew is exactly what this surfaces). One shuffle per
    direction with map-side partial aggregation."""
    from search_spark.operators.graph import entity_degrees

    return entity_degrees(_kg_edge_instances(spark, sf_dir))


_SQL_KG_ENTITY_DEGREE = f"""
{_MENTIONS_SQL}, {_EDGES_SQL_BODY},
o AS (SELECT src AS entity, COUNT(*) AS out_edges,
             COUNT(DISTINCT dst) AS out_neighbors
      FROM edges GROUP BY src),
i AS (SELECT dst AS entity, COUNT(*) AS in_edges,
             COUNT(DISTINCT src) AS in_neighbors
      FROM edges GROUP BY dst)
SELECT COALESCE(o.entity, i.entity) AS entity,
       CAST(COALESCE(out_edges, 0) AS BIGINT) AS out_edges,
       CAST(COALESCE(out_neighbors, 0) AS BIGINT) AS out_neighbors,
       CAST(COALESCE(in_edges, 0) AS BIGINT) AS in_edges,
       CAST(COALESCE(in_neighbors, 0) AS BIGINT) AS in_neighbors
FROM o FULL JOIN i ON o.entity = i.entity
"""

_PR_ITER = 10
_PR_DAMPING = 0.85


def _q_kg_pagerank(spark, sf_dir):
    """Global entity importance: PageRank over the distinct relation edge
    set (10 iterations, d=0.85, dangling mass redistributed). Iterative
    join-aggregate plan with per-round lineage checkpoints — the same
    loop discipline as the connected-components canonicalizer."""
    from search_spark.operators.graph import pagerank

    pr = pagerank(
        _kg_edge_instances(spark, sf_dir),
        n_iter=_PR_ITER,
        damping=_PR_DAMPING,
    )
    return pr.select("entity", F.round("rank", 6).alias("rank"))


def _pr_stage_ctes(tag: str, edges_src: str, n_iter: int, damping: float,
                   init_from: str | None = None) -> tuple[str, str]:
    """One fixed-iteration PageRank stage unrolled into plain CTEs — a
    (contribution, dangling-mass, rank-update) triple per iteration; no
    recursion, so DuckDB executes it as a straight-line relational plan.
    ``init_from`` names a previous stage's final rank CTE for a warm
    start (previous rank where known, 1/N for new vertices, renormalized
    to sum 1) — the same semantics as ``pagerank(init_ranks=...)``.
    Returns ``(cte_block, final_rank_cte_name)``."""
    # every CTE referenced more than once is MATERIALIZED — without it the
    # inlined expansion of pr{k} is 3^k subtrees, each re-opening the scan
    parts = [f"""
dedges{tag} AS MATERIALIZED (SELECT DISTINCT src, dst FROM {edges_src}),
nodes{tag} AS MATERIALIZED (
  SELECT src AS entity FROM dedges{tag} UNION SELECT dst FROM dedges{tag}),
nn{tag} AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM nodes{tag}),
od{tag} AS MATERIALIZED (
  SELECT src AS entity, CAST(COUNT(*) AS DOUBLE) AS od
  FROM dedges{tag} GROUP BY src)"""]
    if init_from is None:
        parts.append(f"""
pr{tag}0 AS MATERIALIZED (
  SELECT entity, 1.0 / (SELECT c FROM nn{tag}) AS rank FROM nodes{tag})""")
    else:
        parts.append(f"""
init{tag} AS MATERIALIZED (
  SELECT n.entity, COALESCE(p.rank, 1.0 / (SELECT c FROM nn{tag})) AS r
  FROM nodes{tag} n LEFT JOIN {init_from} p ON p.entity = n.entity),
tot{tag} AS MATERIALIZED (SELECT SUM(r) AS t FROM init{tag}),
pr{tag}0 AS MATERIALIZED (
  SELECT entity, r / (SELECT t FROM tot{tag}) AS rank FROM init{tag})""")
    for k in range(1, n_iter + 1):
        parts.append(f"""
c{tag}{k} AS MATERIALIZED (SELECT e.dst AS entity, SUM(p.rank / o.od) AS s
  FROM dedges{tag} e
  JOIN pr{tag}{k - 1} p ON e.src = p.entity
  JOIN od{tag} o ON o.entity = e.src
  GROUP BY e.dst),
d{tag}{k} AS MATERIALIZED (SELECT COALESCE(SUM(p.rank), 0) AS dm
  FROM pr{tag}{k - 1} p LEFT JOIN od{tag} o ON o.entity = p.entity
  WHERE o.entity IS NULL),
pr{tag}{k} AS MATERIALIZED (SELECT nd.entity,
  {1.0 - damping} / (SELECT c FROM nn{tag})
  + {damping} * (COALESCE(c{tag}{k}.s, 0)
                 + (SELECT dm FROM d{tag}{k}) / (SELECT c FROM nn{tag}))
  AS rank
  FROM nodes{tag} nd LEFT JOIN c{tag}{k} ON c{tag}{k}.entity = nd.entity)""")
    return ",".join(parts), f"pr{tag}{n_iter}"


def _pagerank_oracle_sql(n_iter: int = _PR_ITER,
                         damping: float = _PR_DAMPING) -> str:
    body, final = _pr_stage_ctes("", "edges", n_iter, damping)
    return (
        f"{_MENTIONS_SQL}, {_EDGES_SQL_BODY}, {body}\n"
        f"SELECT entity, ROUND(rank, 6) AS rank FROM {final}"
    )


_PR_INC_ITER = 4


def _q_kg_pagerank_incremental(spark, sf_dir):
    """Evolving-graph PageRank: the edge set arrives in two appends
    (even-doc_id docs, then odd), and each batch recomputes the rank
    vector warm-started from the previous batch's final ranks — four
    iterations per batch instead of a cold ten. The per-batch plan is the
    same join-aggregate loop as kg_pagerank; only the O(vocabulary) rank
    vector carries between batches (lineage-truncated)."""
    from search_spark.operators.graph import incremental_pagerank

    batches = [
        _kg_edge_instances(spark, sf_dir, parity=0),
        _kg_edge_instances(spark, sf_dir, parity=1),
    ]
    pr = incremental_pagerank(
        batches, n_iter_per_batch=_PR_INC_ITER, damping=_PR_DAMPING
    )
    return pr.select("entity", F.round("rank", 6).alias("rank"))


def _incremental_pagerank_oracle_sql(
    n_iter: int = _PR_INC_ITER, damping: float = _PR_DAMPING
) -> str:
    # batch 0 = edges within even-doc_id documents; cumulative after
    # batch 1 = the full edge set (edges never cross documents)
    batch0 = f"""
m0 AS (SELECT * FROM mentions WHERE doc_id % 2 = 0),
edges0 AS (
  SELECT a.mention AS src, b.mention AS dst
  FROM m0 a JOIN m0 b
    ON a.doc_id = b.doc_id
   AND b.tpos > a.tpos AND b.tpos - a.tpos <= {REL_DISTANCE})"""
    stage_a, final_a = _pr_stage_ctes("A", "edges0", n_iter, damping)
    stage_b, final_b = _pr_stage_ctes(
        "B", "edges", n_iter, damping, init_from=final_a
    )
    return (
        f"{_MENTIONS_SQL}, {_EDGES_SQL_BODY}, {batch0}, {stage_a}, "
        f"{stage_b}\n"
        f"SELECT entity, ROUND(rank, 6) AS rank FROM {final_b}"
    )


def _q_kg_triangles(spark, sf_dir):
    """Per-entity triangle counts over the undirected co-occurrence
    graph: degree-ordered wedge join (skew-guarded — wedges enumerate at
    the lowest-degree vertex of each triangle) closed by one more join
    against the oriented edge set."""
    from search_spark.operators.graph import triangle_counts

    return triangle_counts(_kg_edge_instances(spark, sf_dir))


_SQL_KG_TRIANGLES = f"""
{_MENTIONS_SQL}, {_EDGES_SQL_BODY},
und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM edges WHERE src <> dst),
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM und e1
        JOIN und e2 ON e2.u = e1.v
        JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v)
SELECT entity, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (SELECT unnest([a, b, c]) AS entity FROM tri) x
GROUP BY entity
"""


def _q_kg_clustering(spark, sf_dir):
    """Local clustering coefficient per entity — `2T / (d(d-1))` over
    the undirected simple graph — the standard cohesion diagnostic
    beside degree and PageRank (near-1 = clique-like community member,
    near-0 = star-center hub). Composes the degree-ordered triangle
    counter with a distinct-neighbor degree aggregate; the division is
    a projection, so cost is the triangle count's (hub-skew-safe wedge
    join) plus one vocabulary-sized join."""
    from search_spark.operators.graph import triangle_counts

    edges = _kg_edge_instances(spark, sf_dir)
    und = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)  # reused: degrees + triangles
    )
    deg = (
        und.select(F.col("u").alias("entity"))
        .unionByName(und.select(F.col("v").alias("entity")))
        .groupBy("entity")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(und.select(F.col("u").alias("src"),
                                     F.col("v").alias("dst")))
    return (
        deg.join(tri, "entity", "left")
        .select(
            "entity",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0 * F.coalesce("n_triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    4,
                ),
            ).otherwise(F.lit(0.0)).alias("clustering"),
        )
    )


_SQL_KG_CLUSTERING = f"""
{_MENTIONS_SQL}, {_EDGES_SQL_BODY},
und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM edges WHERE src <> dst),
deg AS (SELECT entity, COUNT(*) AS degree FROM (
          SELECT u AS entity FROM und UNION ALL SELECT v FROM und)
        GROUP BY entity),
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM und e1
        JOIN und e2 ON e2.u = e1.v
        JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
tc AS (SELECT entity, COUNT(*) AS n_triangles
       FROM (SELECT unnest([a, b, c]) AS entity FROM tri) x
       GROUP BY entity)
SELECT d.entity, CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN ROUND(2.0 * COALESCE(tc.n_triangles, 0)
                       / (d.degree * (d.degree - 1)), 4)
            ELSE 0.0 END AS clustering
FROM deg d LEFT JOIN tc ON tc.entity = d.entity
"""


def _q_kg_two_hop(spark, sf_dir):
    """Neighborhood expansion: distinct-edge self-join on the hop vertex
    with per-(src, dst) path counts; shuffles hash-partition both sides
    on the hop key and the count partial-combines before the final
    aggregation shuffle."""
    from search_spark.operators.graph import two_hop

    return two_hop(_kg_edge_instances(spark, sf_dir))


_SQL_KG_TWO_HOP = f"""
{_MENTIONS_SQL}, {_EDGES_SQL_BODY},
dedges AS (SELECT DISTINCT src, dst FROM edges)
SELECT a.src, b.dst, COUNT(*) AS n_paths
FROM dedges a JOIN dedges b ON a.dst = b.src
WHERE a.src <> b.dst
GROUP BY a.src, b.dst
"""


_LPA_ITER = 4


def _q_kg_communities(spark, sf_dir):
    """Community detection: synchronous label propagation over the
    undirected co-occurrence graph (4 rounds, smallest-label tie-break —
    fully deterministic, so the unrolled SQL oracle reproduces it). Each
    round is one adjacency⋈labels join plus a min(struct) aggregate; the
    O(vocabulary) label vector is the only iteration state."""
    from search_spark.operators.graph import label_propagation

    return label_propagation(
        _kg_edge_instances(spark, sf_dir), n_iter=_LPA_ITER
    )


def _lpa_oracle_sql(n_iter: int = _LPA_ITER) -> str:
    """Unrolled synchronous-LPA CTE chain: per round, count neighbor
    labels per vertex and keep the (max count, min label) winner;
    vertices with no non-self neighbor keep their own label."""
    parts = [
        """
adj AS MATERIALIZED (
  SELECT src AS entity, dst AS nbr FROM edges WHERE src <> dst
  UNION
  SELECT dst, src FROM edges WHERE src <> dst),
lpnodes AS MATERIALIZED (
  SELECT src AS entity FROM edges UNION SELECT dst FROM edges),
lp0 AS MATERIALIZED (SELECT entity, entity AS label FROM lpnodes)"""
    ]
    for k in range(1, n_iter + 1):
        parts.append(f"""
lp{k} AS MATERIALIZED (
  SELECT n.entity, COALESCE(b.label, n.entity) AS label
  FROM lpnodes n LEFT JOIN (
    SELECT entity, label FROM (
      SELECT a.entity, l.label,
             ROW_NUMBER() OVER (
               PARTITION BY a.entity
               ORDER BY COUNT(*) DESC, l.label ASC) AS rn
      FROM adj a JOIN lp{k - 1} l ON l.entity = a.nbr
      GROUP BY a.entity, l.label
    ) WHERE rn = 1
  ) b ON b.entity = n.entity)""")
    body = ",".join(parts)
    return (
        f"{_MENTIONS_SQL}, {_EDGES_SQL_BODY}, {body}\n"
        f"SELECT entity, label AS community FROM lp{n_iter}"
    )


def _q_kg_components(spark, sf_dir):
    """Weakly-connected components of the co-occurrence graph — the
    alternating large-star/small-star loop the canonicalizer uses,
    exposed as a registry query: (entity, component representative =
    lexicographic minimum). Oracle: recursive-CTE transitive closure."""
    from search_spark.operators.canonicalize import connected_components

    # CC consumes the edge set twice (node set + edge set) and the
    # mention self-join is the expensive subtree — materialize it once
    edges = _kg_edge_instances(spark, sf_dir).localCheckpoint(eager=True)
    return connected_components(edges).select(
        F.col("id").alias("entity"), "component"
    )


_SQL_KG_COMPONENTS = f"""
{_MENTIONS_SQL.replace("WITH ", "WITH RECURSIVE ", 1)}, {_EDGES_SQL_BODY},
-- NOTE: under WITH RECURSIVE, DuckDB gives every two-branch UNION CTE
-- recursive (non-deduplicating) semantics — hence DISTINCT + UNION ALL
csym AS (SELECT DISTINCT a, b FROM (
  SELECT src AS a, dst AS b FROM edges WHERE src <> dst
  UNION ALL SELECT dst, src FROM edges WHERE src <> dst) s0),
creach(a, b) AS (
  SELECT a, b FROM csym
  UNION
  SELECT r.a, s.b FROM creach r JOIN csym s ON r.b = s.a),
cnodes AS (SELECT DISTINCT entity FROM (
  SELECT src AS entity FROM edges
  UNION ALL SELECT dst FROM edges) n0),
ccomp AS (SELECT a AS entity, least(a, min(b)) AS component
          FROM creach GROUP BY a)
SELECT n.entity, COALESCE(c.component, n.entity) AS component
FROM cnodes n LEFT JOIN ccomp c ON c.entity = n.entity
"""


_KCORE_K = 3
_KCORE_ROUNDS = 4


def _q_kg_kcore(spark, sf_dir):
    """Dense-core extraction: 4 rounds of k-core peeling (k=3) over the
    undirected co-occurrence graph — each round one degree aggregate +
    two semi-joins on the shrinking edge set. Fixed rounds keep it
    deterministic for the unrolled SQL oracle."""
    from search_spark.operators.graph import kcore_peel

    return kcore_peel(
        _kg_edge_instances(spark, sf_dir), k=_KCORE_K, n_rounds=_KCORE_ROUNDS
    )


def _kcore_oracle_sql(k: int = _KCORE_K, n: int = _KCORE_ROUNDS) -> str:
    parts = [
        """
e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE src <> dst)"""
    ]
    for i in range(1, n + 1):
        parts.append(f"""
d{i} AS MATERIALIZED (
  SELECT entity, COUNT(*) AS degree FROM (
    SELECT u AS entity FROM e{i - 1}
    UNION ALL SELECT v FROM e{i - 1}) x
  GROUP BY entity),
k{i} AS MATERIALIZED (SELECT entity FROM d{i} WHERE degree >= {k}),
e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{i - 1} e
  WHERE e.u IN (SELECT entity FROM k{i})
    AND e.v IN (SELECT entity FROM k{i}))""")
    body = ",".join(parts)
    return f"""
{_MENTIONS_SQL}, {_EDGES_SQL_BODY}, {body}
SELECT entity, CAST(COUNT(*) AS BIGINT) AS degree FROM (
  SELECT u AS entity FROM e{n} UNION ALL SELECT v FROM e{n}) x
GROUP BY entity
"""


_PPR_SEEDS = 2
_PPR_ITER = 10


def _q_kg_personalized_pagerank(spark, sf_dir):
    """Seed-teleport PageRank ("relatedness to THESE entities"): the two
    lexicographically-smallest entities seed the teleport vector;
    dangling mass returns to the seeds; unreachable vertices get exactly
    0. Same join-aggregate loop as kg_pagerank."""
    from search_spark.operators.graph import personalized_pagerank

    edges = _kg_edge_instances(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("entity"))
        .unionByName(edges.select(F.col("dst").alias("entity")))
        .distinct()
    )
    seeds = nodes.orderBy("entity").limit(_PPR_SEEDS)
    ppr = personalized_pagerank(
        edges, seeds, n_iter=_PPR_ITER, damping=_PR_DAMPING
    )
    return ppr.select("entity", F.round("rank", 6).alias("rank"))


def _ppr_oracle_sql(
    n_iter: int = _PPR_ITER,
    damping: float = _PR_DAMPING,
    n_seeds: int = _PPR_SEEDS,
) -> str:
    parts = [f"""
pdedges AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
pnodes AS MATERIALIZED (
  SELECT src AS entity FROM pdedges UNION SELECT dst FROM pdedges),
pseeds AS MATERIALIZED (
  SELECT entity FROM pnodes ORDER BY entity LIMIT {n_seeds}),
pod AS MATERIALIZED (
  SELECT src AS entity, CAST(COUNT(*) AS DOUBLE) AS od
  FROM pdedges GROUP BY src),
ptele AS MATERIALIZED (
  SELECT n.entity,
         CASE WHEN s.entity IS NOT NULL
              THEN 1.0 / (SELECT COUNT(*) FROM pseeds)
              ELSE 0.0 END AS t
  FROM pnodes n LEFT JOIN pseeds s ON s.entity = n.entity),
ppr0 AS MATERIALIZED (SELECT entity, t AS rank FROM ptele)"""]
    for k in range(1, n_iter + 1):
        parts.append(f"""
pc{k} AS MATERIALIZED (SELECT e.dst AS entity, SUM(p.rank / o.od) AS s
  FROM pdedges e
  JOIN ppr{k - 1} p ON e.src = p.entity
  JOIN pod o ON o.entity = e.src
  GROUP BY e.dst),
pd{k} AS MATERIALIZED (SELECT COALESCE(SUM(p.rank), 0) AS dm
  FROM ppr{k - 1} p LEFT JOIN pod o ON o.entity = p.entity
  WHERE o.entity IS NULL),
ppr{k} AS MATERIALIZED (SELECT te.entity,
  {1.0 - damping} * te.t
  + {damping} * (COALESCE(pc{k}.s, 0)
                 + (SELECT dm FROM pd{k}) * te.t) AS rank
  FROM ptele te LEFT JOIN pc{k} ON pc{k}.entity = te.entity)""")
    body = ",".join(parts)
    return (
        f"{_MENTIONS_SQL}, {_EDGES_SQL_BODY}, {body}\n"
        f"SELECT entity, ROUND(rank, 6) AS rank FROM ppr{n_iter}"
    )


_NEG_K = 4


def _q_kg_negative_samples(spark, sf_dir):
    """KG-embedding training negatives (TransE protocol): 4 corrupted
    tails per distinct true triple, drawn by deterministic hash into the
    two-phase global entity index, filtered against the true triple set
    — identical draws on every run/partitioning/engine."""
    from search_spark.operators.sampling import negative_samples

    return negative_samples(_q_kg_doc_triples(spark, sf_dir), k=_NEG_K)


def _negative_samples_oracle_sql(k: int = _NEG_K) -> str:
    fold = (
        "list_reduce(list_transform(string_split_regex({h}, ''), "
        "c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)), "
        "(acc, x) -> acc * 16 + x)"
    )
    h = fold.format(
        h="substr(md5(subj || chr(31) || pred || chr(31) || obj "
        "|| chr(31) || CAST(sample_i AS VARCHAR)), 1, 12)"
    )
    return f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
trip AS (
  SELECT DISTINCT subj, pred, obj FROM (
    SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj
    FROM mentions
    UNION ALL
    SELECT subj, pred, obj FROM relations) x),
ents AS (
  SELECT entity, ROW_NUMBER() OVER (ORDER BY entity) - 1 AS idx
  FROM (SELECT subj AS entity FROM trip UNION SELECT obj FROM trip) e),
nent AS (SELECT COUNT(*) AS n FROM ents),
expanded AS (
  SELECT subj, pred, obj, i.sample_i
  FROM trip CROSS JOIN (
    SELECT unnest(range({k})) AS sample_i) i),
cand AS (
  SELECT e.subj, e.pred, e.obj, e.sample_i,
         ({h}) % (SELECT n FROM nent) AS idx
  FROM expanded e)
SELECT c.subj, c.pred, en.entity AS obj_neg,
       CAST(c.sample_i AS INT) AS sample_i
FROM cand c
JOIN ents en ON en.idx = c.idx
WHERE en.entity <> c.obj
  AND NOT EXISTS (
    SELECT 1 FROM trip t
    WHERE t.subj = c.subj AND t.pred = c.pred AND t.obj = en.entity)
"""


def _q_kg_bgp_match(spark, sf_dir):
    """SPARQL-style basic graph pattern over the materialized triples:
    ``?a DIFF ?b . ?c DIFF ?b . ?b has_type ?bt`` (operator pairs sharing
    a related object, with the object's type) — per-pattern scans with
    constants pushed into the scan, per-pattern dedup (set semantics over
    provenance rows), then hash-joins on the shared variables; no pattern
    is ever cartesian (the operator raises on disconnected BGPs)."""
    from search_spark.operators.bgp import match_bgp

    # the triples here are derived on the fly; leaving the plan lazy lets
    # Catalyst constant-fold each pattern's pred filter into the union
    # branches (a has_type scan never runs the relation self-join) —
    # measured on par with materializing the derived table once
    return match_bgp(
        _q_kg_doc_triples(spark, sf_dir),
        [
            ("?a", DIFF, "?b"),
            ("?c", DIFF, "?b"),
            ("?b", "has_type", "?bt"),
        ],
    )


_SQL_KG_BGP_MATCH = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
triples AS (
  SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj
  FROM mentions
  UNION ALL
  SELECT subj, pred, obj FROM relations)
SELECT DISTINCT p1.subj AS a, p1.obj AS b, p2.subj AS c, p3.obj AS bt
FROM (SELECT DISTINCT subj, obj FROM triples WHERE pred = '{DIFF}') p1
JOIN (SELECT DISTINCT subj, obj FROM triples WHERE pred = '{DIFF}') p2
  ON p2.obj = p1.obj
JOIN (SELECT DISTINCT subj, obj FROM triples WHERE pred = 'has_type') p3
  ON p3.subj = p1.obj
"""


def _q_kg_bgp_optional(spark, sf_dir):
    """SPARQL OPTIONAL + FILTER NOT EXISTS over the triples: every typed
    entity, its DIFF-related object when one exists (left join, NULL
    otherwise), restricted to entities never appearing as a DIFF object
    themselves (anti-join). Optional blocks are left joins on the shared
    variable; negation is an anti-join — both stay hash-partitioned on
    the entity variable."""
    from search_spark.operators.bgp import match_bgp

    return match_bgp(
        _q_kg_doc_triples(spark, sf_dir),
        [("?m", "has_type", "?t")],
        optional=[("?m", DIFF, "?o")],
        not_exists=[("?x", DIFF, "?m")],
    )


_SQL_KG_BGP_OPTIONAL = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
triples AS (
  SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj
  FROM mentions
  UNION ALL
  SELECT subj, pred, obj FROM relations)
SELECT DISTINCT p1.subj AS m, p1.obj AS t, p2.obj AS o
FROM (SELECT DISTINCT subj, obj FROM triples WHERE pred = 'has_type') p1
LEFT JOIN (SELECT DISTINCT subj, obj FROM triples WHERE pred = '{DIFF}') p2
  ON p2.subj = p1.subj
WHERE NOT EXISTS (SELECT 1 FROM triples t3
                  WHERE t3.pred = '{DIFF}' AND t3.obj = p1.subj)
"""


def _q_kg_describe(spark, sf_dir):
    """SPARQL DESCRIBE: every triple mentioning the resource 'spark' —
    one scan with an OR-of-equalities predicate (no join, no shuffle);
    provenance passes through."""
    from search_spark.operators.bgp import describe

    return describe(_q_kg_doc_triples(spark, sf_dir), "spark")


_SQL_KG_DESCRIBE = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
triples AS (
  SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj,
         CAST(doc_id AS VARCHAR) || ':' || CAST(tpos AS VARCHAR) AS prov
  FROM mentions
  UNION ALL
  SELECT subj, pred, obj,
         CAST(doc_id AS VARCHAR) || ':' || CAST(s_tpos AS VARCHAR) AS prov
  FROM relations)
SELECT subj, pred, obj, prov FROM triples
WHERE subj = 'spark' OR pred = 'spark' OR obj = 'spark'
"""


def _q_sparql_select(spark, sf_dir):
    """SPARQL SELECT string → DataFrame plan (operators/sparql.py): the
    declarative query surface over the materialized triples. The compiler
    targets match_bgp, so the physical plan is identical to the
    hand-built BGP (pushed-down per-pattern scans, hash joins on shared
    variables, anti-join for NOT EXISTS); the FILTER comparison lands as
    a post-join Catalyst filter."""
    from search_spark.operators.sparql import sparql_select

    query = f"""
    SELECT DISTINCT ?a ?b ?bt WHERE {{
      ?a <{DIFF}> ?b .
      ?b <has_type> ?bt .
      FILTER NOT EXISTS {{ ?x <{DIFF}> ?a . }}
      FILTER(?a < ?b)
    }}
    """
    return sparql_select(_q_kg_doc_triples(spark, sf_dir), query)


_SQL_SPARQL_SELECT = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
triples AS (
  SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj
  FROM mentions
  UNION ALL
  SELECT subj, pred, obj FROM relations)
SELECT DISTINCT p1.subj AS a, p1.obj AS b, p3.obj AS bt
FROM (SELECT DISTINCT subj, obj FROM triples WHERE pred = '{DIFF}') p1
JOIN (SELECT DISTINCT subj, obj FROM triples WHERE pred = 'has_type') p3
  ON p3.subj = p1.obj
WHERE p1.subj < p1.obj
  AND NOT EXISTS (SELECT 1 FROM triples t3
                  WHERE t3.pred = '{DIFF}' AND t3.obj = p1.subj)
"""


def _q_sparql_aggregate(spark, sf_dir):
    """SPARQL GROUP BY + aggregate projections compiled to a Catalyst
    hash aggregate: COUNT / COUNT(DISTINCT) / MIN over the distinct
    binding rows (the BGP operator is set-semantics, so the counts are
    over distinct (a, b, bt) bindings — the oracle aggregates over the
    same DISTINCT subquery). The plan is the BGP hash-join tree feeding
    one partial+final HashAggregate; no extra shuffle beyond the agg."""
    from search_spark.operators.sparql import sparql_select

    query = f"""
    SELECT ?bt (COUNT(?a) AS ?n_pairs) (COUNT(DISTINCT ?a) AS ?n_subj)
           (MIN(?a) AS ?min_subj)
    WHERE {{ ?a <{DIFF}> ?b . ?b <has_type> ?bt . }}
    GROUP BY ?bt ORDER BY ?bt
    """
    return sparql_select(_q_kg_doc_triples(spark, sf_dir), query)


_SQL_SPARQL_AGGREGATE = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
triples AS (
  SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj
  FROM mentions
  UNION ALL
  SELECT subj, pred, obj FROM relations)
SELECT bt, COUNT(a) AS n_pairs, COUNT(DISTINCT a) AS n_subj,
       MIN(a) AS min_subj
FROM (SELECT DISTINCT p1.subj AS a, p1.obj AS b, p3.obj AS bt
      FROM (SELECT DISTINCT subj, obj FROM triples WHERE pred = '{DIFF}') p1
      JOIN (SELECT DISTINCT subj, obj FROM triples
            WHERE pred = 'has_type') p3
        ON p3.subj = p1.obj)
GROUP BY bt
ORDER BY bt
"""


def _q_sparql_expr_project(spark, sf_dir):
    """SPARQL 1.1 projection expressions ``( expr AS ?alias )`` over a
    grouped query: expressions evaluate after the hash aggregate (so
    ``?n2`` references the ``?n`` aggregate alias) and compile to plain
    Catalyst column expressions in the same projection — no extra
    shuffle, no UDF. Exercises the numeric (``FLOOR``, arithmetic),
    string (``UCASE``, ``STRBEFORE``) and hash (``MD5``) builtins."""
    from search_spark.operators.sparql import sparql_select

    query = f"""
    SELECT ?bt (COUNT(?a) AS ?n) (?n * 2 AS ?n2) (FLOOR(?n / 2) AS ?half)
           (UCASE(?bt) AS ?ubt) (STRBEFORE(?bt, "E") AS ?pre)
           (MD5(?bt) AS ?h)
    WHERE {{ ?a <{DIFF}> ?b . ?b <has_type> ?bt . }}
    GROUP BY ?bt ORDER BY ?bt
    """
    return sparql_select(_q_kg_doc_triples(spark, sf_dir), query)


_SQL_SPARQL_EXPR_PROJECT = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
triples AS (
  SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj
  FROM mentions
  UNION ALL
  SELECT subj, pred, obj FROM relations)
SELECT bt, COUNT(a) AS n,
       CAST(COUNT(a) * 2 AS DOUBLE) AS n2,
       CAST(FLOOR(CAST(COUNT(a) AS DOUBLE) / 2) AS DOUBLE) AS half,
       UPPER(bt) AS ubt,
       CASE WHEN strpos(bt, 'E') > 0
            THEN substr(bt, 1, strpos(bt, 'E') - 1) ELSE '' END AS pre,
       md5(bt) AS h
FROM (SELECT DISTINCT p1.subj AS a, p1.obj AS b, p3.obj AS bt
      FROM (SELECT DISTINCT subj, obj FROM triples WHERE pred = '{DIFF}') p1
      JOIN (SELECT DISTINCT subj, obj FROM triples
            WHERE pred = 'has_type') p3
        ON p3.subj = p1.obj)
GROUP BY bt
ORDER BY bt
"""


def _q_sparql_union_values(spark, sf_dir):
    """SPARQL UNION of two group patterns plus a VALUES inline-data
    restriction: each branch compiles independently (the second one's
    VALUES lands as a broadcast inner join against the 2-row literal
    table), then unionByName + distinct realizes SPARQL's set-union of
    binding rows. Branch plans stay per-pattern pushed-down scans."""
    from search_spark.operators.sparql import sparql_select

    query = f"""
    SELECT DISTINCT ?a ?b WHERE {{
      {{ ?a <{DIFF}> ?b . FILTER(?a < ?b) }}
      UNION
      {{ ?a <has_type> ?b . VALUES ?b {{ "ENGINE" "OPERATOR" }} }}
    }}
    """
    return sparql_select(_q_kg_doc_triples(spark, sf_dir), query)


_SQL_SPARQL_UNION_VALUES = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
triples AS (
  SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj
  FROM mentions
  UNION ALL
  SELECT subj, pred, obj FROM relations)
SELECT subj AS a, obj AS b FROM triples
WHERE pred = '{DIFF}' AND subj < obj
UNION
SELECT subj AS a, obj AS b FROM triples
WHERE pred = 'has_type' AND obj IN ('ENGINE', 'OPERATOR')
"""


def _q_sparql_property_path(spark, sf_dir):
    """SPARQL 1.1 property-path syntax compiled onto operators/paths.py:
    ``(p|^p){1,3}/has_type`` with a *constant object* — the compiler
    algebraically flips the path and seeds the frontier from the handful
    of typed nodes, so evaluation touches only the reachable subgraph
    (never the full pair closure). The triple table is cached once
    because the semi-naive evaluator scans it once per leaf per round."""
    from search_spark.operators.sparql import sparql_select

    t = _q_kg_doc_triples(spark, sf_dir).select("subj", "pred", "obj").cache()
    t.count()
    query = f"""
    SELECT ?e WHERE {{
      ?e (<{DIFF}>|^<{DIFF}>){{1,3}}/<has_type> "OPERATOR" .
    }}
    """
    return sparql_select(t, query)


_SQL_SPARQL_PROPERTY_PATH = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
t AS MATERIALIZED (SELECT DISTINCT subj, pred, obj FROM (
    SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj
    FROM mentions
    UNION ALL SELECT subj, pred, obj FROM relations)),
step AS MATERIALIZED (
    SELECT subj AS src, obj AS dst FROM t WHERE pred = '{DIFF}'
    UNION
    SELECT obj AS src, subj AS dst FROM t WHERE pred = '{DIFF}'),
seeds AS (SELECT DISTINCT subj AS src FROM t
          WHERE pred = 'has_type' AND obj = 'OPERATOR'),
hop1 AS MATERIALIZED (
    SELECT DISTINCT s.src, e.dst FROM seeds s JOIN step e ON e.src = s.src),
hop2 AS MATERIALIZED (
    SELECT DISTINCT h.src, e.dst FROM hop1 h JOIN step e ON e.src = h.dst),
hop3 AS MATERIALIZED (
    SELECT DISTINCT h.src, e.dst FROM hop2 h JOIN step e ON e.src = h.dst)
SELECT DISTINCT dst AS e
FROM (SELECT dst FROM hop1 UNION ALL SELECT dst FROM hop2
      UNION ALL SELECT dst FROM hop3)
"""


def _q_sparql_subquery(spark, sf_dir):
    """SPARQL 1.1 subquery (§12) + HAVING + GROUP_CONCAT: entities whose
    type has at least two distinct members, joined to the per-type count
    and the sorted member list. The inner SELECT compiles bottom-up to
    one hash aggregate with the HAVING as a post-agg Catalyst filter,
    then the outer pattern hash-joins it on ?bt — the classic
    aggregate-then-join shape in one declarative string, one plan
    (no driver-side two-step). GROUP_CONCAT sorts its collected values
    (sort_array → array_join), making the result a pure function of the
    group — the oracle's string_agg(... ORDER BY ...) mirrors it.

    The triple table is cached once: the outer pattern and the inner
    subquery are two consumers of the same derived frame, and without the
    pin the NER-extraction lineage would execute once per consumer."""
    from search_spark.operators.sparql import sparql_select

    t = _q_kg_doc_triples(spark, sf_dir).select("subj", "pred", "obj").cache()
    t.count()
    query = """
    SELECT DISTINCT ?a ?bt ?n ?members WHERE {
      ?a <has_type> ?bt .
      { SELECT ?bt (COUNT(?x) AS ?n)
               (GROUP_CONCAT(?x ; SEPARATOR="|") AS ?members)
        WHERE { ?x <has_type> ?bt . }
        GROUP BY ?bt HAVING (?n >= 2) }
    }
    """
    return sparql_select(t, query)


_SQL_SPARQL_SUBQUERY = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
triples AS (
  SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj
  FROM mentions
  UNION ALL
  SELECT subj, pred, obj FROM relations),
typed AS (SELECT DISTINCT subj AS a, obj AS bt FROM triples
          WHERE pred = 'has_type'),
per_type AS (
  SELECT bt, COUNT(a) AS n, string_agg(a, '|' ORDER BY a) AS members
  FROM typed GROUP BY bt HAVING COUNT(a) >= 2)
SELECT DISTINCT t.a, t.bt, c.n, c.members
FROM typed t JOIN per_type c ON c.bt = t.bt
"""


def _q_ntriples_export(spark, sf_dir):
    """N-Quads serialization of the doc triples (io/ntriples.py — the
    same module the CLI export and the lossless reader share):
    subjects/predicates/provenance IRI-encoded into kind namespaces with
    the minimal invertible percent-encoding, objects as escaped
    literals — literal replace chains, whole-stage codegen, a narrow map
    over the triple scan with no shuffle."""
    from search_spark.io.ntriples import to_nquad_lines

    return to_nquad_lines(_q_kg_doc_triples(spark, sf_dir))


def _sql_ntriples_export() -> str:
    from search_spark.io.ntriples import iri_escape_sql, literal_escape_sql

    return f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
triples AS (
  SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj,
         CAST(doc_id AS VARCHAR) || ':' || CAST(tpos AS VARCHAR) AS prov
  FROM mentions
  UNION ALL
  SELECT subj, pred, obj,
         CAST(doc_id AS VARCHAR) || ':' || CAST(s_tpos AS VARCHAR) AS prov
  FROM relations)
SELECT {iri_escape_sql('subj', 'entity')} || ' '
       || {iri_escape_sql('pred', 'pred')}
       || ' "' || {literal_escape_sql('obj')} || '" '
       || {iri_escape_sql('prov', 'prov')} || ' .' AS line
FROM triples
"""


def _q_turtle_export(spark, sf_dir):
    """Turtle serialization of the doc triples (io/ntriples.py
    to_turtle_blocks): per-subject blocks with `;` predicate and `,`
    object-list abbreviations, deterministically ordered — two hash
    aggregations over the distinct triple set, no window, no Python."""
    from search_spark.io.ntriples import to_turtle_blocks

    return to_turtle_blocks(
        _q_kg_doc_triples(spark, sf_dir).select("subj", "pred", "obj")
    )


def _sql_turtle_export() -> str:
    from search_spark.io.ntriples import iri_escape_sql, literal_escape_sql

    return f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
triples AS (
  SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj
  FROM mentions
  UNION ALL
  SELECT subj, pred, obj FROM relations),
lits AS (SELECT DISTINCT subj, pred,
                '"' || {literal_escape_sql('obj')} || '"' AS lit
         FROM triples),
ol AS (SELECT subj, pred,
              string_agg(lit, ', ' ORDER BY lit) AS objs
       FROM lits GROUP BY subj, pred),
pl AS (SELECT subj,
              {iri_escape_sql('pred', 'pred')} || ' ' || objs AS line
       FROM ol)
SELECT subj,
       {iri_escape_sql('subj', 'entity')} || ' '
       || string_agg(line, e' ;\n    ' ORDER BY line) || ' .' AS block
FROM pl GROUP BY subj
"""


def _q_kg_stats(spark, sf_dir):
    """Triple-store statistics (the RDF equivalent of table stats, what
    the BGP optimizer's selectivity estimates read): per-predicate triple
    count and distinct subject/object cardinalities — one
    partial-aggregated pass."""
    t = _q_kg_doc_triples(spark, sf_dir)
    return t.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"),
    )


_SQL_KG_STATS = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
triples AS (
  SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj
  FROM mentions
  UNION ALL
  SELECT subj, pred, obj FROM relations)
SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_triples,
       CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_subj,
       CAST(COUNT(DISTINCT obj) AS BIGINT) AS n_obj
FROM triples GROUP BY pred
"""


def _q_kg_char_sets(spark, sf_dir):
    """Characteristic sets (Neumann & Moerkotte): group subjects by the
    exact set of predicates they carry and count each set — the standard
    structure summary RDF engines keep for cardinality estimation. Two
    partial-aggregated shuffles (subj → sorted predicate set, set →
    count); the set is a sorted-array string so both engines agree on a
    canonical key."""
    t = _q_kg_doc_triples(spark, sf_dir)
    per_subj = t.groupBy("subj").agg(
        F.array_join(
            F.array_sort(F.collect_set("pred")), ","
        ).alias("char_set")
    )
    return per_subj.groupBy("char_set").agg(
        F.count(F.lit(1)).alias("n_subjects")
    )


_SQL_KG_CHAR_SETS = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
triples AS (
  SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj
  FROM mentions
  UNION ALL
  SELECT subj, pred, obj FROM relations)
SELECT char_set, CAST(COUNT(*) AS BIGINT) AS n_subjects
FROM (
  SELECT subj,
         array_to_string(list_sort(list(DISTINCT pred)), ',') AS char_set
  FROM triples GROUP BY subj)
GROUP BY char_set
"""


def _q_kg_snapshot_diff(spark, sf_dir):
    """Snapshot-to-snapshot KG delta at provenance granularity: the
    (subj, pred, obj, prov) rows added and removed between two corpus
    versions (derived here from a deterministic doc_id split; the
    production path diffs two ``SnapshotTable.load(as_of=...)`` reads the
    same way). Each direction is one hash-partitioned left-anti join on
    the full row key — the canonical incremental shape, no collect, no
    cartesian; at scale both sides are bucket-co-partitioned snapshot
    reads, so the anti-joins shuffle nothing new."""
    key = ["subj", "pred", "obj", "prov"]
    # pin: t feeds both versions and each version feeds both diff
    # directions — uncached, the extraction lineage runs 4x
    t = _q_kg_doc_triples(spark, sf_dir).withColumn(
        "did", F.split("prov", ":").getItem(0).cast("long")
    ).cache()
    old = t.filter(F.col("did") % 3 != 0).select(*key).distinct().cache()
    new = t.filter(F.col("did") % 3 != 1).select(*key).distinct().cache()
    added = new.join(old, key, "left_anti").withColumn("change", F.lit("added"))
    removed = old.join(new, key, "left_anti").withColumn(
        "change", F.lit("removed")
    )
    return added.unionByName(removed)


_SQL_KG_SNAPSHOT_DIFF = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
triples AS (
  SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj,
         CAST(doc_id AS VARCHAR) || ':' || CAST(tpos AS VARCHAR) AS prov,
         doc_id
  FROM mentions
  UNION ALL
  SELECT subj, pred, obj,
         CAST(doc_id AS VARCHAR) || ':' || CAST(s_tpos AS VARCHAR) AS prov,
         doc_id
  FROM relations),
old AS (SELECT DISTINCT subj, pred, obj, prov FROM triples
        WHERE doc_id % 3 <> 0),
new AS (SELECT DISTINCT subj, pred, obj, prov FROM triples
        WHERE doc_id % 3 <> 1)
SELECT subj, pred, obj, prov, 'added' AS change
FROM (SELECT * FROM new EXCEPT SELECT * FROM old)
UNION ALL
SELECT subj, pred, obj, prov, 'removed' AS change
FROM (SELECT * FROM old EXCEPT SELECT * FROM new)
"""


def _q_vocab_coverage(spark, sf_dir):
    """Tokenizer-prep vocabulary report: top-32 tokens by corpus frequency
    with the cumulative fraction of all token occurrences they cover.
    The count aggregate is vocabulary-sized (partial map-side combine);
    the top-k is TakeOrderedAndProject; the cumulative window then runs
    over only k rows, so the single-partition WindowExec is k-sized by
    construction, never corpus-sized."""
    from pyspark.sql import Window

    counts = _tokens(spark, sf_dir).groupBy("tok").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    total = counts.agg(F.sum("n_occurrences").alias("total"))
    top = counts.orderBy(F.desc("n_occurrences"), "tok").limit(32)
    w = (
        Window.orderBy(F.desc("n_occurrences"), "tok")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        top.withColumn("cum", F.sum("n_occurrences").over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "tok",
            "n_occurrences",
            F.round(F.col("cum") / F.col("total"), 4).alias("coverage"),
        )
    )


_SQL_VOCAB_COVERAGE = f"""
WITH {_TOKS_SQL},
counts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_occurrences
           FROM toks GROUP BY tok),
total AS (SELECT CAST(SUM(n_occurrences) AS BIGINT) AS total FROM counts),
top AS (SELECT tok, n_occurrences FROM counts
        ORDER BY n_occurrences DESC, tok LIMIT 32)
SELECT tok, n_occurrences,
       ROUND(CAST(SUM(n_occurrences) OVER (
                ORDER BY n_occurrences DESC, tok
                ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / (SELECT total FROM total), 4) AS coverage
FROM top
"""


def _q_ngram_novelty(spark, sf_dir):
    """Per-document novelty: the fraction of a document's distinct
    3-gram shingles whose global first occurrence (min doc_id) is this
    document — the curation signal for "how much of this doc is new
    text". One shingle-keyed aggregate plus one join back on the shingle
    key; both shuffle on the shingle, the same shard unit as the dedup
    family, so the plan survives corpus scale-up unchanged."""
    d = _shingles(spark, sf_dir).distinct()
    firsts = d.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        d.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg((F.col("doc_id") == F.col("first_doc")).cast("double")),
                4,
            ).alias("novelty"),
            F.count(F.lit(1)).alias("n_shingles"),
        )
    )


_SQL_NGRAM_NOVELTY = f"""
WITH {_SHINGLES_SQL},
d AS (SELECT DISTINCT doc_id, shingle FROM sh),
f AS (SELECT shingle, MIN(doc_id) AS first_doc FROM d GROUP BY shingle)
SELECT doc_id,
       ROUND(AVG(CASE WHEN doc_id = first_doc
                 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 4)
         AS novelty,
       CAST(COUNT(*) AS BIGINT) AS n_shingles
FROM d JOIN f USING (shingle)
GROUP BY doc_id
"""


def _q_length_deciles(spark, sf_dir):
    """Corpus profiling: per-source document-length deciles. Exact
    ``F.percentile`` keeps the oracle hash-exact (DuckDB quantile_cont is
    the same interpolated definition); the group cardinality is
    source-vocabulary-sized so the sort-based aggregate buffer is bounded.
    At open-web scale swap in ``F.approx_percentile`` (t-digest sketch,
    mergeable map-side) — a one-line change the oracle cannot follow."""
    qs = [i / 10.0 for i in range(1, 10)]
    agg = _docs(spark, sf_dir).groupBy("source").agg(
        F.percentile(
            "n_chars", F.array(*[F.lit(q) for q in qs])
        ).alias("p")
    )
    return agg.select(
        "source", F.posexplode("p").alias("idx", "v")
    ).select(
        "source",
        (F.col("idx") + 1).cast("long").alias("decile"),
        F.round("v", 4).alias("n_chars_quantile"),
    )


_SQL_LENGTH_DECILES = """
WITH g AS (
  SELECT source,
         quantile_cont(n_chars,
           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
  FROM documents GROUP BY source)
SELECT source, CAST(d AS BIGINT) AS decile,
       ROUND(CAST(qs[d] AS DOUBLE), 4) AS n_chars_quantile
FROM g, generate_series(1, 9) AS t(d)
"""


def _q_kg_shacl_validate(spark, sf_dir):
    """SHACL-lite conformance report: domain, value-pattern, and
    cardinality shapes over the triples — each shape is one anti-join,
    codegen rlike filter, or partial-aggregated count; the report is
    their union. Violations here: ENGINE breaks the type vocabulary, and
    operator fan-out breaches both count bounds."""
    from search_spark.operators.shapes import Shape, validate_shapes

    return validate_shapes(
        _q_kg_doc_triples(spark, sf_dir),
        [
            Shape("diff-domain", "domain", DIFF, cls="OPERATOR"),
            Shape("type-vocab", "pattern", "has_type",
                  regex="^(OPERATOR|OBJECT)$"),
            Shape("op-fanout-max", "max_count", DIFF, cls="OPERATOR", hi=4),
            Shape("op-fanout-min", "min_count", DIFF, cls="OPERATOR", lo=2),
        ],
    )


_SQL_KG_SHACL_VALIDATE = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
triples AS (
  SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj
  FROM mentions
  UNION ALL
  SELECT subj, pred, obj FROM relations),
counts AS (
  SELECT subj AS node, COUNT(DISTINCT obj) AS n
  FROM triples WHERE pred = '{DIFF}' GROUP BY subj),
typed AS (
  SELECT DISTINCT subj AS node FROM triples
  WHERE pred = 'has_type' AND obj = 'OPERATOR'),
focus AS (
  SELECT typed.node, COALESCE(counts.n, 0) AS n
  FROM typed LEFT JOIN counts ON counts.node = typed.node)
SELECT 'diff-domain' AS shape, node, 'missing has_type OPERATOR' AS detail
FROM (SELECT DISTINCT subj AS node FROM triples WHERE pred = '{DIFF}') s
WHERE NOT EXISTS (SELECT 1 FROM typed WHERE typed.node = s.node)
UNION ALL
SELECT DISTINCT 'type-vocab', subj, 'bad value ' || obj
FROM triples
WHERE pred = 'has_type' AND NOT regexp_matches(obj, '^(OPERATOR|OBJECT)$')
UNION ALL
SELECT 'op-fanout-max', node, '{DIFF} count ' || CAST(n AS VARCHAR)
FROM focus WHERE n > 4
UNION ALL
SELECT 'op-fanout-min', node, '{DIFF} count ' || CAST(n AS VARCHAR)
FROM focus WHERE n < 2
"""


_FC_ROUNDS = 4
_CO_OP = "co_operator"


def _q_kg_forward_chain(spark, sf_dir):
    """Rule-based forward chaining to fixpoint (RDFS-lite inference):
    rule 1 derives ``co_operator`` edges between operators sharing a DIFF
    object; rule 2 closes ``co_operator`` transitively. Each round is a
    CONSTRUCT (BGP join + templated projection) unioned into the triple
    set with per-round lineage checkpoints; monotone rules make the
    early-exit fixpoint identical to the oracle's fixed unroll."""
    from search_spark.operators.bgp import forward_chain

    closed = forward_chain(
        _q_kg_doc_triples(spark, sf_dir),
        rules=[
            (
                [("?a", DIFF, "?b"), ("?c", DIFF, "?b")],
                [("?a", _CO_OP, "?c")],
            ),
            (
                [("?a", _CO_OP, "?x"), ("?x", _CO_OP, "?e")],
                [("?a", _CO_OP, "?e")],
            ),
        ],
        max_rounds=_FC_ROUNDS,
    )
    return closed.filter(F.col("pred") == _CO_OP)


def _forward_chain_oracle_sql(n_rounds: int = _FC_ROUNDS) -> str:
    parts = ["""
t0 AS MATERIALIZED (
  SELECT DISTINCT mention AS subj, 'has_type' AS pred, entity_type AS obj
  FROM mentions
  UNION
  SELECT DISTINCT subj, pred, obj FROM relations)"""]
    for k in range(1, n_rounds + 1):
        parts.append(f"""
d{k}a AS (SELECT p1.subj AS subj, '{_CO_OP}' AS pred, p2.subj AS obj
  FROM (SELECT DISTINCT subj, obj FROM t{k - 1} WHERE pred = '{DIFF}') p1
  JOIN (SELECT DISTINCT subj, obj FROM t{k - 1} WHERE pred = '{DIFF}') p2
    ON p2.obj = p1.obj),
d{k}b AS (SELECT p1.subj AS subj, '{_CO_OP}' AS pred, p2.obj AS obj
  FROM (SELECT DISTINCT subj, obj FROM t{k - 1} WHERE pred = '{_CO_OP}') p1
  JOIN (SELECT DISTINCT subj, obj FROM t{k - 1} WHERE pred = '{_CO_OP}') p2
    ON p2.subj = p1.obj),
t{k} AS MATERIALIZED (
  SELECT DISTINCT * FROM (SELECT * FROM t{k - 1}
    UNION ALL SELECT * FROM d{k}a
    UNION ALL SELECT * FROM d{k}b))""")
    return (
        f"{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY}, {','.join(parts)}\n"
        f"SELECT subj, pred, obj FROM t{n_rounds} WHERE pred = '{_CO_OP}'"
    )


_BFS_HOPS = 4


def _q_kg_bfs_distances(spark, sf_dir):
    """Bounded directed BFS from the ENGINE-typed seed entities over the
    relation edge set: per-round frontier⋈edges + min-aggregate, edge
    table hash-partitioned on src once and reused every round, state one
    int per reached vertex. The unrolled-CTE oracle computes the same
    first-discovery distances."""
    from search_spark.operators.graph import bfs_distances

    seeds = (
        _doc_mentions(spark, sf_dir)
        .filter(F.col("entity_type") == "ENGINE")
        .select(F.col("mention").alias("entity"))
    )
    return bfs_distances(
        _kg_edge_instances(spark, sf_dir), seeds, max_hops=_BFS_HOPS
    )


def _bfs_oracle_sql(max_hops: int = _BFS_HOPS) -> str:
    parts = ["""
dedges AS (SELECT DISTINCT src, dst FROM edges),
d0 AS (SELECT DISTINCT mention AS entity, 0 AS dist
       FROM mentions WHERE entity_type = 'ENGINE')"""]
    for k in range(1, max_hops + 1):
        parts.append(f"""
r{k} AS (SELECT e.dst AS entity, {k} AS dist
  FROM dedges e JOIN d{k - 1} p ON p.entity = e.src AND p.dist = {k - 1}),
d{k} AS (SELECT entity, MIN(dist) AS dist
  FROM (SELECT * FROM d{k - 1} UNION ALL SELECT * FROM r{k}) GROUP BY entity)""")
    return (
        f"{_MENTIONS_SQL}, {_EDGES_SQL_BODY}, {','.join(parts)}\n"
        f"SELECT entity, CAST(dist AS INT) AS dist FROM d{max_hops}"
    )


_N_LANDMARKS = 8


def _q_kg_landmark_closeness(spark, sf_dir):
    """Approximate harmonic closeness from the 8 highest-out-degree
    landmark entities (ties by name — deterministic on both engines):
    ONE labeled multi-source BFS pass carries all landmarks in its
    state (operators/graph.py multi_source_bfs), then a per-entity
    aggregate sums the exact integer ``lcm(1..hops)/dist`` so the
    harmonic score is partial-aggregation-order-independent. The
    unrolled-CTE oracle mirrors landmark selection, the labeled BFS,
    and the integer-unit harmonic sum."""
    from search_spark.operators.graph import landmark_closeness

    return landmark_closeness(
        _kg_edge_instances(spark, sf_dir),
        n_landmarks=_N_LANDMARKS,
        max_hops=_BFS_HOPS,
    )


def _landmark_bfs_oracle_ctes(n_landmarks: int, max_hops: int) -> str:
    """The CTE prefix both landmark oracles share: the mentions/edges
    views, ``dedges``/``deg``/``lmk`` (landmark selection) and the labeled
    BFS states ``d0..d{max_hops}``, ending with a newline so the caller
    appends its final SELECT."""
    parts = [f"""
dedges AS (SELECT DISTINCT src, dst FROM edges),
deg AS (SELECT src AS entity, COUNT(*) AS od FROM dedges GROUP BY src),
lmk AS (SELECT entity FROM deg
        ORDER BY od DESC, entity ASC LIMIT {n_landmarks}),
d0 AS (SELECT entity AS landmark, entity, 0 AS dist FROM lmk)"""]
    for k in range(1, max_hops + 1):
        parts.append(f"""
r{k} AS (SELECT p.landmark, e.dst AS entity, {k} AS dist
  FROM dedges e JOIN d{k - 1} p ON p.entity = e.src AND p.dist = {k - 1}),
d{k} AS (SELECT landmark, entity, MIN(dist) AS dist
  FROM (SELECT * FROM d{k - 1} UNION ALL SELECT * FROM r{k})
  GROUP BY landmark, entity)""")
    return f"{_MENTIONS_SQL}, {_EDGES_SQL_BODY}, {','.join(parts)}\n"


def _landmark_closeness_oracle_sql(
    n_landmarks: int = _N_LANDMARKS, max_hops: int = _BFS_HOPS
) -> str:
    from math import lcm

    unit = lcm(*range(1, max_hops + 1))
    return (
        f"{_landmark_bfs_oracle_ctes(n_landmarks, max_hops)}"
        f"SELECT entity, CAST(COUNT(*) AS INT) AS n_reached,\n"
        f"       round(SUM(CAST({unit} / dist AS BIGINT)) / {unit}.0, 6)"
        f" AS harmonic\n"
        f"FROM d{max_hops} WHERE dist > 0 GROUP BY entity"
    )


def _q_kg_hop_plot(spark, sf_dir):
    """ANF-style hop plot (neighborhood function) from the degree-chosen
    landmarks: how many ``(landmark, entity)`` pairs are first reached
    at each hop count — the standard sampled effective-diameter
    diagnostic (a web-scale KG whose mass sits at hop ≤ 2 behaves very
    differently under expansion joins than one with a long tail). Same
    labeled multi-source BFS state as ``kg_landmark_closeness``; the
    aggregate partial-combines to max_hops+1 rows."""
    from search_spark.operators.graph import (
        multi_source_bfs,
        select_landmarks,
    )

    edges = _kg_edge_instances(spark, sf_dir)
    lmk = select_landmarks(edges, _N_LANDMARKS)
    return (
        multi_source_bfs(edges, lmk, max_hops=_BFS_HOPS)
        .groupBy("dist")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def _hop_plot_oracle_sql(
    n_landmarks: int = _N_LANDMARKS, max_hops: int = _BFS_HOPS
) -> str:
    return (
        f"{_landmark_bfs_oracle_ctes(n_landmarks, max_hops)}"
        f"SELECT CAST(dist AS INT) AS dist,"
        f" CAST(COUNT(*) AS BIGINT) AS n_pairs\n"
        f"FROM d{max_hops} GROUP BY dist"
    )


def _q_kg_assortativity(spark, sf_dir):
    """Directed degree assortativity over the provenance-weighted
    multigraph: the Pearson correlation between src out-degree and dst
    in-degree (instance counts) across edge INSTANCES — positive =
    hubs link to hubs (a KG whose expansion joins explode), negative =
    hub-and-spoke (Newman 2002's mixing coefficient, instance-weighted
    as for weighted graphs; the small-vocabulary DISTINCT edge set
    saturates to constant degrees here, so the weighted form is the
    informative one). All five moment sums are INTEGER aggregates over
    (od, id) pairs — bit-exact regardless of partial-aggregation order
    — and the correlation is assembled from the six scalars in one
    final 1-row projection, so both engines compute identical doubles.
    (At 10^12 edges the moment sums outgrow int64 — lift the same plan
    to decimal(38,0)/HUGEINT; the shape is unchanged.) Two degree
    aggregates + two joins back onto the edge table + one 1-row
    reduce; nothing driver-side."""
    e = _kg_edge_instances(spark, sf_dir).select("src", "dst")
    od = e.groupBy("src").agg(F.count(F.lit(1)).alias("x"))
    idg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("y"))
    xy = e.join(od, "src").join(idg, "dst")
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # assemble in decimal(38,0): n·sxy outgrows int64 one SF above the
    # gate scale (DuckDB's SUM(BIGINT) is already HUGEINT — this keeps
    # the Spark side equally exact before the single cast to double)
    def _d(c: str):
        return F.col(c).cast("decimal(38,0)")

    num = _d("n") * _d("sxy") - _d("sx") * _d("sy")
    den = F.sqrt(
        (_d("n") * _d("sxx") - _d("sx") * _d("sx")).cast("double")
    ) * F.sqrt(
        (_d("n") * _d("syy") - _d("sy") * _d("sy")).cast("double")
    )
    return s.select(
        F.col("n").cast("long").alias("n_edges"),
        F.round(
            # NULL when either degree is constant across edges (zero
            # variance — the coefficient is undefined)
            F.when(den != 0.0, num.cast("double") / den),
            6,
        ).alias("assortativity"),
    )


_SQL_KG_ASSORTATIVITY = f"""
{_MENTIONS_SQL}, {_EDGES_SQL_BODY},
od AS (SELECT src, COUNT(*) AS x FROM edges GROUP BY src),
idg AS (SELECT dst, COUNT(*) AS y FROM edges GROUP BY dst),
s AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM edges e JOIN od ON od.src = e.src JOIN idg ON idg.dst = e.dst)
SELECT CAST(n AS BIGINT) AS n_edges,
       round(CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                  THEN NULL
                  ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                       / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                          * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END, 6)
       AS assortativity
FROM s
"""


_WL_ROUNDS = 2


def _q_kg_wl_roles(spark, sf_dir):
    """Weisfeiler–Leman structural roles after 2 refinement rounds over
    the directed co-occurrence multigraph (operators/graph.py
    wl_role_labels): vertex label = md5 of (own label | sorted in-
    multiset | sorted out-multiset of neighbor "label:count" pieces).
    The sorted-signature construction makes every intermediate string
    deterministic, so the DuckDB mirror (string_agg ORDER BY) produces
    byte-identical md5 chains."""
    from search_spark.operators.graph import wl_role_labels

    return wl_role_labels(
        _kg_edge_instances(spark, sf_dir), rounds=_WL_ROUNDS
    )


def _wl_roles_oracle_sql(rounds: int = _WL_ROUNDS) -> str:
    parts = ["""
ecnt AS (SELECT src, dst, COUNT(*) AS n FROM edges GROUP BY src, dst),
nodes AS (SELECT src AS entity FROM ecnt UNION SELECT dst FROM ecnt),
l0 AS (SELECT entity, '' AS lab FROM nodes)"""]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(f"""
in{r} AS (SELECT e.dst AS entity,
  string_agg(l.lab || ':' || e.n, ',' ORDER BY l.lab || ':' || e.n) AS sig
  FROM ecnt e JOIN l{p} l ON l.entity = e.src GROUP BY e.dst),
out{r} AS (SELECT e.src AS entity,
  string_agg(l.lab || ':' || e.n, ',' ORDER BY l.lab || ':' || e.n) AS sig
  FROM ecnt e JOIN l{p} l ON l.entity = e.dst GROUP BY e.src),
l{r} AS (SELECT l.entity,
  md5(l.lab || '|' || COALESCE(i.sig, '') || '|' || COALESCE(o.sig, ''))
    AS lab
  FROM l{p} l LEFT JOIN in{r} i ON i.entity = l.entity
  LEFT JOIN out{r} o ON o.entity = l.entity)""")
    return (
        f"{_MENTIONS_SQL}, {_EDGES_SQL_BODY}, {','.join(parts)},\n"
        f"sizes AS (SELECT lab, CAST(COUNT(*) AS BIGINT) AS class_size\n"
        f"          FROM l{rounds} GROUP BY lab)\n"
        f"SELECT l.entity, l.lab AS role, s.class_size\n"
        f"FROM l{rounds} l JOIN sizes s ON s.lab = l.lab"
    )


def _q_kg_katz_index(spark, sf_dir):
    """Provenance-weighted truncated Katz relatedness (β = 0.1, paths
    ≤ 3 hops) for ordered entity pairs: score(u,v) = Σ_k β^k ·
    w_paths_k(u,v) where a k-path's weight is the product of its edge
    instance counts — the multi-hop association strength a KG builder
    ranks before proposing indirect links. (On a bounded vocabulary
    the UNWEIGHTED distinct graph saturates — every pair directly
    linked, all path counts equal — so as with ``kg_assortativity``
    the instance-weighted form is the one that carries signal.) The
    weighted path counts are exact integer aggregates of two
    self-joins on the counted edge table (partial-combined per hop —
    the expansion is Σ c·c over shared middles, never an unaggregated
    all-pairs product), and the score is assembled from the scaled
    integer ``100·w₁ + 10·w₂ + w₃`` in one projection so both engines
    compute the identical double. Self-pairs are excluded."""
    ecnt = (
        _kg_edge_instances(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    e2 = (
        ecnt.alias("a")
        .join(ecnt.alias("b"), F.col("a.dst") == F.col("b.src"))
        .select(
            F.col("a.src").alias("src"),
            F.col("b.dst").alias("dst"),
            (F.col("a.c") * F.col("b.c")).alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w2"))
    )
    e3 = (
        ecnt.alias("a")
        .join(e2.alias("p"), F.col("a.dst") == F.col("p.src"))
        .select(
            F.col("a.src").alias("src"),
            F.col("p.dst").alias("dst"),
            (F.col("a.c") * F.col("p.w2")).alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w3"))
    )
    paths = (
        e2.join(e3, on=["src", "dst"], how="full")
        .join(ecnt.withColumnRenamed("c", "w1"), on=["src", "dst"],
              how="full")
        .select(
            "src",
            "dst",
            F.coalesce("w1", F.lit(0)).cast("long").alias("w1"),
            F.coalesce("w2", F.lit(0)).cast("long").alias("w2"),
            F.coalesce("w3", F.lit(0)).cast("long").alias("w3"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    return paths.select(
        "src",
        "dst",
        "w1",
        "w2",
        "w3",
        (
            (
                F.lit(100) * F.col("w1")
                + F.lit(10) * F.col("w2")
                + F.col("w3")
            ).cast("double")
            / F.lit(1000.0)
        ).alias("katz"),
    )


_SQL_KG_KATZ_INDEX = f"""
{_MENTIONS_SQL}, {_EDGES_SQL_BODY},
ecnt AS (SELECT src, dst, COUNT(*) AS c FROM edges GROUP BY src, dst),
e2 AS (SELECT a.src, b.dst, SUM(a.c * b.c) AS w2
       FROM ecnt a JOIN ecnt b ON a.dst = b.src GROUP BY a.src, b.dst),
e3 AS (SELECT a.src, p.dst, SUM(a.c * p.w2) AS w3
       FROM ecnt a JOIN e2 p ON a.dst = p.src GROUP BY a.src, p.dst),
paths AS (
  SELECT COALESCE(e2.src, e3.src, e1.src) AS src,
         COALESCE(e2.dst, e3.dst, e1.dst) AS dst,
         COALESCE(e1.c, 0) AS w1, COALESCE(w2, 0) AS w2,
         COALESCE(w3, 0) AS w3
  FROM e2
  FULL JOIN e3 ON e2.src = e3.src AND e2.dst = e3.dst
  FULL JOIN ecnt e1 ON COALESCE(e2.src, e3.src) = e1.src
                   AND COALESCE(e2.dst, e3.dst) = e1.dst)
SELECT src, dst, CAST(w1 AS BIGINT) AS w1, CAST(w2 AS BIGINT) AS w2,
       CAST(w3 AS BIGINT) AS w3,
       CAST(100 * w1 + 10 * w2 + w3 AS DOUBLE) / 1000.0 AS katz
FROM paths
WHERE src <> dst
"""


_ASSOC_MIN_DOCS = 5


def _q_kg_assoc_rules(spark, sf_dir):
    """Document-level association rules over distinct entity mentions —
    the market-basket miner whose high-lift pairs seed pattern
    bootstrap: for each ordered pair (x → y) co-occurring in ≥ 5 docs,
    support = P(x,y), confidence = P(y|x), lift = P(x,y)/(P(x)·P(y)).
    Baskets are per-doc DISTINCT mention sets (one semi-aggregated
    dedup, then a per-doc self-join — bounded by the per-doc mention
    vocabulary, never corpus-wide), marginals are two broadcast-sized
    aggregates, and every ratio assembles from exact integer counts in
    one final projection (round 6), so both engines agree bit-for-bit.
    """
    m = (
        _doc_mentions(spark, sf_dir)
        .select("doc_id", "mention")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # corpus total rides as a 1-row broadcast, never a driver round-trip
    # (same discipline as kg_edge_pmi)
    nd_row = m.agg(
        F.countDistinct("doc_id").cast("double").alias("n_docs")
    )
    pair = (
        m.alias("a")
        .join(m.alias("b"), on="doc_id")
        .filter(F.col("a.mention") != F.col("b.mention"))
        .select(
            F.col("a.mention").alias("x"), F.col("b.mention").alias("y")
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .filter(F.col("n_xy") >= _ASSOC_MIN_DOCS)
    )
    marg = m.groupBy(F.col("mention")).agg(
        F.count(F.lit(1)).alias("n")
    )
    out = (
        pair.join(marg.withColumnRenamed("mention", "x"), on="x")
        .withColumnRenamed("n", "n_x")
        .join(marg.withColumnRenamed("mention", "y"), on="y")
        .withColumnRenamed("n", "n_y")
        .crossJoin(F.broadcast(nd_row))
    )
    nd = F.col("n_docs")
    return out.select(
        "x",
        "y",
        F.col("n_xy").cast("long").alias("n_xy"),
        F.round(F.col("n_xy") / nd, 6).alias("support"),
        F.round(F.col("n_xy") / F.col("n_x").cast("double"), 6)
        .alias("confidence"),
        F.round(
            (F.col("n_xy") * nd)
            / (F.col("n_x") * F.col("n_y")).cast("double"),
            6,
        ).alias("lift"),
    )


_SQL_KG_ASSOC_RULES = f"""
{_MENTIONS_SQL},
m AS (SELECT DISTINCT doc_id, mention FROM mentions),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM m),
pair AS (SELECT a.mention AS x, b.mention AS y, COUNT(*) AS n_xy
         FROM m a JOIN m b ON a.doc_id = b.doc_id
         WHERE a.mention <> b.mention
         GROUP BY a.mention, b.mention
         HAVING COUNT(*) >= {_ASSOC_MIN_DOCS}),
marg AS (SELECT mention, COUNT(*) AS n FROM m GROUP BY mention)
SELECT p.x, p.y, CAST(p.n_xy AS BIGINT) AS n_xy,
       round(p.n_xy / CAST(nd.n_docs AS DOUBLE), 6) AS support,
       round(p.n_xy / CAST(mx.n AS DOUBLE), 6) AS confidence,
       round((p.n_xy * CAST(nd.n_docs AS DOUBLE))
             / CAST(mx.n * my.n AS DOUBLE), 6) AS lift
FROM pair p
JOIN marg mx ON mx.mention = p.x
JOIN marg my ON my.mention = p.y
CROSS JOIN nd
"""


def _q_kg_edge_pmi(spark, sf_dir):
    """Pointwise mutual information per distinct co-occurrence edge —
    the standard association weight a KG builder attaches before
    thresholding noisy co-occurrence edges. Three partial-aggregated
    counts (pair, src marginal, dst marginal) joined back onto the pair
    table; the corpus total is a 1-row aggregate broadcast, never a
    driver round-trip."""
    edges = _kg_edge_instances(spark, sf_dir)
    pair = edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n_pair"))
    srcm = edges.groupBy("src").agg(F.count(F.lit(1)).alias("n_src"))
    dstm = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("n_dst"))
    total = edges.agg(F.count(F.lit(1)).cast("double").alias("n_total"))
    return (
        pair.join(srcm, on="src")
        .join(dstm, on="dst")
        .crossJoin(F.broadcast(total))
        .select(
            "src",
            "dst",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("n_pair") * F.col("n_total"))
                    / (F.col("n_src") * F.col("n_dst"))
                ),
                4,
            ).alias("pmi"),
        )
    )


_SQL_KG_EDGE_PMI = f"""
{_MENTIONS_SQL}, {_EDGES_SQL_BODY},
pair AS (SELECT src, dst, COUNT(*) AS n_pair FROM edges GROUP BY src, dst),
sm AS (SELECT src, COUNT(*) AS n_src FROM edges GROUP BY src),
dm AS (SELECT dst, COUNT(*) AS n_dst FROM edges GROUP BY dst),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM edges)
SELECT p.src, p.dst, CAST(p.n_pair AS BIGINT) AS n_pair,
       ROUND(LN((p.n_pair * n_total) / (sm.n_src * dm.n_dst)), 4) AS pmi
FROM pair p JOIN sm ON sm.src = p.src JOIN dm ON dm.dst = p.dst, tot
"""


# benchmark decontamination fixture: the eval suite's 3-gram shingles
# (two appear in the corpus, one never does — the negative control)
BENCHMARK_SHINGLES: list[str] = [
    "slow hash batch",
    "window fast query",
    "part filter scan",
    "row column sort",
    "held out benchmark",
]
_CONTAM_THRESHOLD = 2


def _q_contamination_check(spark, sf_dir):
    """Benchmark decontamination: flag documents sharing ≥ T distinct
    3-gram shingles with a held-out eval suite. The benchmark shingle set
    is an eval-suite-sized dim table — broadcast into the shingle stream
    (never a shuffle of the corpus against it); the per-doc overlap count
    partial-aggregates map-side. Docs with zero overlap drop out before
    the aggregate, so output is contamination-sized, not corpus-sized."""
    bench = spark.createDataFrame(
        [(s,) for s in BENCHMARK_SHINGLES], ["shingle"]
    )
    overlap = (
        _shingles(spark, sf_dir)
        # broadcast-filter BEFORE the dedup shuffle: the distinct then
        # runs over matching shingles only (contamination-sized)
        .join(F.broadcast(bench), on="shingle")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return overlap.select(
        "doc_id",
        "n_overlap",
        (F.col("n_overlap") >= _CONTAM_THRESHOLD)
        .cast("int")
        .alias("contaminated"),
    )


_SQL_CONTAMINATION_CHECK = f"""
WITH {_SHINGLES_SQL},
bench(shingle) AS (VALUES {", ".join(f"('{s}')" for s in BENCHMARK_SHINGLES)}),
overlap AS (
  SELECT doc_id, COUNT(*) AS n_overlap
  FROM (SELECT DISTINCT doc_id, shingle FROM sh) s
  JOIN bench USING (shingle)
  GROUP BY doc_id)
SELECT doc_id, CAST(n_overlap AS BIGINT) AS n_overlap,
       CAST(CASE WHEN n_overlap >= {_CONTAM_THRESHOLD} THEN 1 ELSE 0 END
            AS INTEGER) AS contaminated
FROM overlap
"""


_PACK_CAPACITY = 4096


def _q_sequence_packing(spark, sf_dir):
    """GPT-style sequence packing: concatenate documents in doc_id order
    and slice the stream into fixed-size context windows — the window id,
    offset, and span count per document fall out of a global cumulative
    sum, computed as the classic two-phase parallel scan (range shuffle →
    per-partition window → partition-count-sized offset broadcast); the
    oracle is the sequential SUM() OVER the same order."""
    from search_spark.operators.packing import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir).select("doc_id", "n_chars"),
        order_col="doc_id",
        length_col="n_chars",
        capacity=_PACK_CAPACITY,
    ).select("doc_id", "window_id", "offset", "n_windows")


_SQL_SEQUENCE_PACKING = f"""
WITH c AS (
  SELECT doc_id, n_chars,
         SUM(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS incl
  FROM documents)
SELECT doc_id,
       CAST(FLOOR(CAST(incl - n_chars AS DOUBLE) / {_PACK_CAPACITY})
            AS BIGINT) AS window_id,
       CAST((incl - n_chars) % {_PACK_CAPACITY} AS BIGINT) AS offset,
       CAST(GREATEST(
         CEIL(CAST(incl AS DOUBLE) / {_PACK_CAPACITY})
         - FLOOR(CAST(incl - n_chars AS DOUBLE) / {_PACK_CAPACITY}),
         1) AS BIGINT) AS n_windows
FROM c
"""


# -- deterministic sampling / dataset splitting -----------------------------

_RESAMPLE_HEX = 8


def _q_quality_resample(spark, sf_dir):
    """Quality-weighted subsampling, derandomized: keep each document
    with probability proportional to a quality proxy (here length/400,
    clamped), decided by md5(doc_id) mapped to [0,1) — membership is a
    pure function of the data, stable across runs, partitionings, and
    engines. Pure projection + filter; no shuffle, no UDF."""
    from search_spark.operators.sampling import weighted_sample

    d = _docs(spark, sf_dir)
    prob = F.col("n_chars").cast("double") / 400.0
    kept = weighted_sample(d, "doc_id", prob, n_hex=_RESAMPLE_HEX)
    return kept.select(
        "doc_id",
        F.round(
            F.least(F.lit(1.0), F.greatest(F.lit(0.0), prob)), 4
        ).alias("accept_prob"),
    )


# DuckDB lacks a hex→int scalar; the oracle evaluates the same 8-hex-digit
# uniform positionally (exact: every value < 2^32 is double-representable)
_SQL_QUALITY_RESAMPLE = f"""
WITH s AS (
  SELECT doc_id, n_chars,
         CAST(list_sum(list_transform(range(0, {_RESAMPLE_HEX}),
           i -> (strpos('0123456789abcdef',
                        substr(substr(md5(CAST(doc_id AS VARCHAR)),
                                      1, {_RESAMPLE_HEX}),
                               CAST(i + 1 AS INTEGER), 1)) - 1)
                * POWER(16, {_RESAMPLE_HEX - 1} - i))) AS DOUBLE)
           / {float(16 ** _RESAMPLE_HEX)} AS u,
         LEAST(CAST(1.0 AS DOUBLE),
               GREATEST(CAST(0.0 AS DOUBLE),
                        CAST(n_chars AS DOUBLE) / 400.0)) AS p
  FROM documents)
SELECT doc_id, ROUND(p, 4) AS accept_prob FROM s WHERE u < p
"""

_SPLIT_HEX = 4
# train fraction 0.9 quantized to the 16^4 hash space (operators/sampling.py)
_SPLIT_TRAIN_BOUND = format(round(0.9 * 16 ** _SPLIT_HEX), f"0{_SPLIT_HEX}x")
_STRAT_K = 20


def _q_split_train_holdout(spark, sf_dir):
    """Reproducible train/holdout split keyed on md5(doc_id): membership
    is a pure function of the row key — stable across runs, partitioning,
    and cluster sizes (df.sample() is none of those). Pure projection, no
    shuffle, no UDF."""
    from search_spark.operators.sampling import hash_split

    return hash_split(
        _docs(spark, sf_dir).select("doc_id"),
        "doc_id",
        {"train": 0.9, "holdout": 0.1},
        n_hex=_SPLIT_HEX,
    ).select("doc_id", "split")


_SQL_SPLIT_TRAIN_HOLDOUT = f"""
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, {_SPLIT_HEX})
                 < '{_SPLIT_TRAIN_BOUND}'
            THEN 'train' ELSE 'holdout' END AS split
FROM documents
"""


def _q_stratified_sample(spark, sf_dir):
    """Deterministic per-language quota sample (≤ k docs per lang): the k
    rows of each stratum whose md5(doc_id) sorts first. One shuffle on
    the stratum key; output bounded at k rows per stratum regardless of
    corpus size."""
    from search_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir).select("doc_id", "lang"),
        stratum="lang",
        key="doc_id",
        k=_STRAT_K,
    )


_SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8),
                    CAST(doc_id AS VARCHAR)) AS rn
  FROM documents) x
WHERE rn <= {_STRAT_K}
"""


def _q_asof_join_events(spark, sf_dir):
    """As-of join: each click joined to the same user's latest prior (or
    simultaneous) purchase — the temporal-attribution primitive Spark has
    no built-in for. Union-sort-window formulation: one hash shuffle on
    user_id, in-partition sort, running last() — never a nested-loop
    join. Oracle: DuckDB's native ASOF LEFT JOIN."""
    from search_spark.operators.temporal import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(clicks, purchases, on="user_id")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_asof").alias("purchase_ts"),
        F.round(F.col("value_asof"), 6).alias("purchase_value"),
    )


_SQL_ASOF_JOIN_EVENTS = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
purch AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id, c.ts,
       p.ts AS purchase_ts,
       ROUND(p.value, 6) AS purchase_value
FROM clicks c ASOF LEFT JOIN purch p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


_RJ_WINDOW_MIN = 30


def _q_range_join_incidents(spark, sf_dir):
    """Interval-containment join without a nested loop: every 'error'
    event opens a 30-minute incident window; count the events landing in
    each window. Intervals explode into the hour buckets they overlap,
    points map to their bucket, and the join becomes an equi-join on the
    bucket key with an exact containment filter — shuffle volume is
    |points| + Σ interval spans, never |intervals| × |points|."""
    from search_spark.operators.temporal import range_join_bucketed

    ev = _events(spark, sf_dir)
    incidents = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr(f"INTERVAL {_RJ_WINDOW_MIN} MINUTE")).alias(
            "end_ts"
        ),
    )
    pairs = range_join_bucketed(
        ev.select(F.col("ts").alias("ev_ts")),
        incidents,
        point_ts="ev_ts",
        start_ts="start_ts",
        end_ts="end_ts",
        bucket_seconds=3600,
    )
    return pairs.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_events_in_window")
    )


_SQL_RANGE_JOIN_INCIDENTS = f"""
WITH incidents AS (
  SELECT event_id AS incident_id, ts AS start_ts,
         ts + INTERVAL {_RJ_WINDOW_MIN} MINUTE AS end_ts
  FROM events WHERE event_type = 'error')
SELECT i.incident_id, COUNT(*) AS n_events_in_window
FROM incidents i JOIN events e
  ON e.ts >= i.start_ts AND e.ts < i.end_ts
GROUP BY i.incident_id
"""


def _q_time_rollup(spark, sf_dir):
    """Hypertable-style continuous aggregate: hourly, daily, and
    per-type totals in ONE pass over the fact table (GROUPING SETS →
    one scan + one Expand + one aggregation), instead of one job per
    granularity — at 10^12 rows the rescans are the cost."""
    from search_spark.operators.temporal import time_rollup

    return time_rollup(_events(spark, sf_dir))


_SQL_TIME_ROLLUP = """
WITH x AS (
  SELECT event_type,
         -- DuckDB's date_trunc('day') yields DATE; Spark yields TIMESTAMP
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         date_trunc('hour', ts) AS hour,
         value
  FROM events)
SELECT event_type, day, hour,
       CAST(GROUPING(event_type) * 4 + GROUPING(day) * 2
            + GROUPING(hour) AS BIGINT) AS lvl,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS total_value
FROM x
GROUP BY GROUPING SETS ((event_type, day, hour), (event_type, day),
                        (event_type))
"""


def _q_sketch_distinct(spark, sf_dir):
    """Distinct-token cardinality per source WITHOUT COUNT(DISTINCT):
    R=32 order-statistics minima (md5-derived 48-bit hashes) — plain MIN
    aggregates that partial-combine map-side with O(R) state per group,
    where an exact distinct would shuffle every (source, term) pair. All
    integer arithmetic, so the DuckDB oracle is bit-identical."""
    from search_spark.operators.sketches import distinct_sketch

    toks = _docs(spark, sf_dir).select(
        "source",
        F.explode(
            F.expr(
                "regexp_extract_all(lower(text), '[a-z0-9_]{2,}', 0)"
            )
        ).alias("term"),
    )
    return distinct_sketch(toks, "source", "term")


def _sketch_distinct_oracle() -> str:
    from search_spark.operators.sketches import distinct_sketch_oracle_sql

    body = distinct_sketch_oracle_sql("stoks", "source", "term")
    return f"""
WITH stoks AS (
  SELECT source,
         unnest(regexp_extract_all(lower(text), '[a-z0-9_]{{2,}}')) AS term
  FROM documents),
{body}
"""


def _q_sketch_overlap(spark, sf_dir):
    """Vocabulary overlap between every source pair from sketches alone:
    the union sketch is the elementwise MIN of the two groups' minima,
    |A∩B| follows by inclusion–exclusion — G²·R integer ops on a
    one-row-per-group sketch table instead of a pairwise intersection
    over the raw corpus."""
    from search_spark.operators.sketches import sketch_overlap

    toks = _docs(spark, sf_dir).select(
        "source",
        F.explode(
            F.expr(
                "regexp_extract_all(lower(text), '[a-z0-9_]{2,}', 0)"
            )
        ).alias("term"),
    )
    return sketch_overlap(toks, "source", "term")


def _sketch_overlap_oracle() -> str:
    from search_spark.operators.sketches import sketch_overlap_oracle_sql

    body = sketch_overlap_oracle_sql("stoks", "source", "term")
    return f"""
WITH stoks AS (
  SELECT source,
         unnest(regexp_extract_all(lower(text), '[a-z0-9_]{{2,}}')) AS term
  FROM documents),
{body}
"""


def _q_sketch_containment(spark, sf_dir):
    """Directional vocabulary containment between source pairs from the
    same mergeable sketches as sketch_overlap (the KMV-for-containment
    idea, cf. GB-KMV, ICDE 2019): ``cont(A in B) = |A∩B| / |A|`` tells
    which sources are subsets/supersets of others — dedup-priority and
    crawl-dedup signals — without ever intersecting raw vocabularies."""
    o = _q_sketch_overlap(spark, sf_dir)
    return o.select(
        "source_a",
        "source_b",
        F.round(F.col("est_overlap") / F.col("est_a"), 6).alias(
            "cont_a_in_b"
        ),
        F.round(F.col("est_overlap") / F.col("est_b"), 6).alias(
            "cont_b_in_a"
        ),
    )


def _sketch_containment_oracle() -> str:
    return f"""
WITH ov AS ({_sketch_overlap_oracle()})
SELECT source_a, source_b,
       ROUND(est_overlap / est_a, 6) AS cont_a_in_b,
       ROUND(est_overlap / est_b, 6) AS cont_b_in_a
FROM ov
"""


BM25_QUERY_TERMS = ["stream", "hash", "join", "window"]
BM25_TOPK = 10


def _q_bm25_search(spark, sf_dir):
    """Okapi BM25 top-k — the standard lexical first-stage ranker beside
    the engine's embedding search. Query-term filter lands BEFORE the
    (doc, term) shuffle, so the scored relation is |matching tokens|;
    per-doc term components fold in sorted-term order for bit-exact
    float parity with the oracle."""
    from search_spark.operators.ranking import bm25_topk

    return bm25_topk(
        _docs(spark, sf_dir).select("doc_id", "text"),
        BM25_QUERY_TERMS,
        topk=BM25_TOPK,
    )


def _bm25_oracle_sql(topk: int | None = None) -> str:
    from search_spark.operators.ranking import BM25_B, BM25_K1

    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    k1, b = BM25_K1, BM25_B
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9_]{{2,}}')) AS term
  FROM documents),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT COALESCE(SUM(dl), 0) FROM dl)
           / (SELECT COUNT(*) FROM documents) AS avgdl),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
       WHERE term IN ({terms}) GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
comp AS (
  SELECT t.doc_id, t.term,
         ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * (t.tf * {k1 + 1.0})
           / (t.tf + {k1} * ({1.0 - b} + {b} * d.dl / s.avgdl)) AS comp
  FROM tf t
  JOIN dfreq f USING (term)
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s),
scored AS (
  SELECT doc_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(comp ORDER BY term)),
                     (acc, x) -> acc + x) AS score
  FROM comp GROUP BY doc_id)
SELECT doc_id, ROUND(score, 6) AS score
FROM scored ORDER BY score DESC, doc_id ASC LIMIT {topk or BM25_TOPK}
"""


_RRF_C = 60
_RRF_LEX_K = 20
_RRF_TOPK = 10


def _q_hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of the lexical BM25
    ranking and the embedding cosine ranking —
    ``rrf(d) = Σ_ranker 1/(60 + rank_d)`` over whichever lists contain
    the doc (full outer join of two request-sized top-k tables). The
    modern first-stage standard: each ranker runs in its own optimal
    plan; fusion touches only k rows."""
    from pyspark.sql import Window

    from search_spark.operators.ranking import bm25_topk

    lex = bm25_topk(
        _docs(spark, sf_dir).select("doc_id", "text"),
        BM25_QUERY_TERMS,
        topk=_RRF_LEX_K,
    ).withColumn(
        "r",
        F.row_number().over(
            Window.orderBy(F.desc("score"), F.asc("doc_id"))
        ),
    )
    sem = _q_semantic_search(spark, sf_dir).withColumn(
        "r",
        F.row_number().over(
            Window.orderBy(F.desc("score"), F.asc("vec_id"))
        ),
    )
    fused = lex.select("doc_id", F.col("r").alias("lr")).join(
        sem.select(F.col("vec_id").alias("doc_id"), F.col("r").alias("sr")),
        on="doc_id",
        how="full",
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_C) + F.col("lr")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(_RRF_C) + F.col("sr")), F.lit(0.0))
    return (
        fused.select("doc_id", F.round(rrf, 6).alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(_RRF_TOPK)
    )


def _hybrid_rrf_oracle_sql() -> str:
    return f"""
WITH lex AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS r
  FROM ({_bm25_oracle_sql(topk=_RRF_LEX_K)}) b),
sem AS (
  SELECT vec_id AS doc_id,
         ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS r
  FROM ({_SQL_SEMANTIC_SEARCH}) s),
fused AS (
  SELECT COALESCE(l.doc_id, se.doc_id) AS doc_id,
         COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_C} + l.r), 0.0)
         + COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_C} + se.r), 0.0) AS rrf
  FROM lex l FULL JOIN sem se ON se.doc_id = l.doc_id)
SELECT doc_id, ROUND(rrf, 6) AS rrf
FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT {_RRF_TOPK}
"""


INVIDX_MIN_DF = 5


def _q_inverted_index(spark, sf_dir):
    """Inverted posting lists (term → df, cf, sorted doc ids) — the
    structure web search builds from this corpus shape. The posting cap
    is applied before the collect (row_number window), so hot terms
    never materialize unbounded arrays; restricted to df ≥ 5 to keep the
    result table focused on real vocabulary."""
    from search_spark.operators.ranking import inverted_postings

    idx = inverted_postings(_docs(spark, sf_dir).select("doc_id", "text"))
    return idx.filter(F.col("df") >= INVIDX_MIN_DF)


_SQL_INVERTED_INDEX = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9_]{{2,}}')) AS term
  FROM documents),
tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY term, doc_id)
SELECT term,
       COUNT(*) AS df,
       SUM(tf) AS cf,
       list(doc_id ORDER BY doc_id) AS postings,
       COUNT(*) > 10000 AS truncated
FROM tf GROUP BY term HAVING COUNT(*) >= {INVIDX_MIN_DF}
"""


_FUNNEL_DEADLINE_H = 24


def _q_dense_time_series(spark, sf_dir):
    """Gap-filled hourly activity series per event type: the dense
    (type × hour) calendar is generated from the corpus' own min/max
    bounds (sequence + explode — a bounded dim, types × hours rows,
    never corpus-sized), left-joined with the sparse hourly counts so
    silent hours report 0 — the reporting shape dashboards need and
    naive GROUP BY can't produce."""
    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"),
    )
    calendar = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    return calendar.join(hourly, on=["event_type", "hour"], how="left").select(
        "event_type",
        "hour",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
    )


_SQL_DENSE_TIME_SERIES = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         COUNT(*) AS n_events, ROUND(SUM(value), 6) AS total_value
  FROM events GROUP BY 1, 2),
bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS mn,
         date_trunc('hour', MAX(ts)) AS mx
  FROM events),
calendar AS (
  SELECT t.event_type, h.hour
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (
    SELECT unnest(generate_series(
      (SELECT mn FROM bounds), (SELECT mx FROM bounds),
      INTERVAL 1 HOUR)) AS hour) h)
SELECT c.event_type, c.hour,
       COALESCE(x.n_events, 0) AS n_events,
       COALESCE(x.total_value, 0.0) AS total_value
FROM calendar c
LEFT JOIN hourly x
  ON x.event_type = c.event_type AND x.hour = c.hour
"""


def _q_event_transitions(spark, sf_dir):
    """First-order behavioral Markov model: per-user event streams in
    time order yield (prev_type → next_type) transition counts and
    row-normalized probabilities. One hash shuffle on user_id for the
    lag window, then a partial-aggregating count; the probability
    normalizer is a per-prev_type window over the type×type matrix —
    request-sized by construction."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    norm = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(norm), 6).alias("prob"),
    )


_SQL_EVENT_TRANSITIONS = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events),
pairs AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type)
SELECT prev_type, next_type, n,
       ROUND(n / SUM(n) OVER (PARTITION BY prev_type), 6) AS prob
FROM pairs
"""


def _q_funnel_conversion(spark, sf_dir):
    """Ordered-funnel analytics: per user, first signup, first click
    within 24h of it, first purchase within 24h of that; report how many
    users reach each stage. One hash shuffle on user_id; the
    stage-dependent minima are chained window aggregates over the same
    partitioning (Spark reuses the sort — no second shuffle)."""
    from pyspark.sql import Window

    deadline = F.expr(f"INTERVAL {_FUNNEL_DEADLINE_H} HOUR")
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    s = F.min(
        F.when(F.col("event_type") == "signup", F.col("ts"))
    ).over(w)
    staged = ev.withColumn("s_ts", s)
    c = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts") >= F.col("s_ts"))
            & (F.col("ts") <= F.col("s_ts") + deadline),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("c_ts", c)
    p = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.col("c_ts"))
            & (F.col("ts") <= F.col("c_ts") + deadline),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("p_ts", p)
    per_user = staged.select("user_id", "s_ts", "c_ts", "p_ts").distinct()
    stage = (
        F.when(F.col("p_ts").isNotNull(), F.lit(3))
        .when(F.col("c_ts").isNotNull(), F.lit(2))
        .when(F.col("s_ts").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
    )
    return (
        per_user.select(stage.alias("stage"))
        .groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_SQL_FUNNEL_CONVERSION = f"""
WITH s AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts
  FROM events GROUP BY user_id),
c AS (
  SELECT e.user_id,
         MIN(CASE WHEN e.event_type = 'click' AND e.ts >= s.s_ts
                  AND e.ts <= s.s_ts + INTERVAL {_FUNNEL_DEADLINE_H} HOUR
                  THEN e.ts END) AS c_ts
  FROM events e JOIN s USING (user_id) GROUP BY e.user_id),
p AS (
  SELECT e.user_id,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= c.c_ts
                  AND e.ts <= c.c_ts + INTERVAL {_FUNNEL_DEADLINE_H} HOUR
                  THEN e.ts END) AS p_ts
  FROM events e JOIN c USING (user_id) GROUP BY e.user_id),
u AS (
  SELECT s.user_id, s.s_ts, c.c_ts, p.p_ts
  FROM s JOIN c USING (user_id) JOIN p USING (user_id))
SELECT CASE WHEN p_ts IS NOT NULL THEN 3
            WHEN c_ts IS NOT NULL THEN 2
            WHEN s_ts IS NOT NULL THEN 1
            ELSE 0 END AS stage,
       COUNT(*) AS n_users
FROM u GROUP BY 1
"""


def _q_retention_cohorts(spark, sf_dir):
    """Cohort retention triangle: users grouped by first-activity day,
    counted as retained on each later active day (day offset). First-day
    table is one agg keyed by user; the join back is on the same key —
    both sides hash-partition on user_id, the small cohort dim
    broadcast-eligible under AQE."""
    ev = _events(spark, sf_dir)
    first = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    return (
        ev.select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .join(first, on="user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias(
                "day_offset"
            ),
            "user_id",
        )
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_SQL_RETENTION_COHORTS = """
WITH first AS (
  SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS cohort_day
  FROM events GROUP BY user_id),
act AS (
  SELECT DISTINCT f.cohort_day,
         date_diff('day', f.cohort_day,
                   CAST(date_trunc('day', e.ts) AS TIMESTAMP)) AS day_offset,
         e.user_id
  FROM events e JOIN first f USING (user_id))
SELECT cohort_day, CAST(day_offset AS INT) AS day_offset,
       COUNT(*) AS n_users
FROM act GROUP BY cohort_day, day_offset
"""


CMS_PROBE_TERMS = ["data", "stream", "hash", "query", "zzz_absent_term"]


def _q_cms_term_counts(spark, sf_dir):
    """Frequency estimation by count-min sketch: the O(depth·width)
    counter table replaces an exact per-term count at corpus scale
    (mergeable partial-aggregating counts; point estimate = MIN over the
    depth rows, overestimate-only). Probes a fixed term list incl. an
    absent term."""
    from search_spark.operators.sketches import (
        cms_point_estimates,
        count_min_sketch,
    )

    toks = _docs(spark, sf_dir).select(
        F.explode(
            F.expr(
                "regexp_extract_all(lower(text), '[a-z0-9_]{2,}', 0)"
            )
        ).alias("term")
    )
    cms = count_min_sketch(toks, "term")
    return cms_point_estimates(cms, CMS_PROBE_TERMS)


def _cms_oracle() -> str:
    from search_spark.operators.sketches import cms_oracle_sql

    body = cms_oracle_sql("dtoks", "term", CMS_PROBE_TERMS)
    return f"""
WITH dtoks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9_]{{2,}}')) AS term
  FROM documents),
{body}
"""


def _q_join_size_estimate(spark, sf_dir):
    """Join cardinality estimation WITHOUT executing the join: bucket-
    wise inner product of the two sides' count-min sketches, MIN over
    hash rows — the AQE/planner statistic. Each side reduces to a
    depth×width counter table in one partial-aggregating pass; the
    estimate is a sketch-sized join."""
    from search_spark.operators.sketches import cms_join_size

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return cms_join_size(orders, lineitem, "o_orderkey", "l_orderkey")


def _join_size_oracle() -> str:
    from search_spark.operators.sketches import cms_join_size_oracle_sql

    body = cms_join_size_oracle_sql(
        "orders", "lineitem", "o_orderkey", "l_orderkey"
    )
    return f"WITH {body}"


def _q_bloom_semi_join(spark, sf_dir):
    """Semi-join with an explicit Bloom-style runtime pre-filter: the
    urgent-orders key set becomes a broadcast bit-index table; lineitem
    rows failing any of the 3 membership probes never reach the exact
    semi-join shuffle. Result is EXACTLY the plain semi-join — the
    approximation changes only shuffle volume, so the oracle is the
    unfiltered semi-join itself."""
    from search_spark.operators.sketches import bloom_prefilter_semi_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    survivors = bloom_prefilter_semi_join(
        lineitem, orders, "l_orderkey", "o_orderkey"
    )
    return survivors.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
    )


_SQL_BLOOM_SEMI_JOIN = """
SELECT l_returnflag,
       COUNT(*) AS n_items,
       ROUND(SUM(l_extendedprice), 2) AS total_price
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY l_returnflag
"""


_Q3_CUTOFF = "1998-03-15"


def _q_tpch_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): three-way join filtered on
    both sides of the date cutoff, revenue aggregate per order, top 10.
    The segment filter prunes customer before the join (broadcast-sized
    dim), lineitem's date filter is pushed to the scan, and the top-k is
    a TakeOrdered, not a full sort."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") < F.lit(_Q3_CUTOFF).cast("timestamp")
    )
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") > F.lit(_Q3_CUTOFF).cast("timestamp")
    )
    return (
        lineitem.join(
            orders, lineitem["l_orderkey"] == orders["o_orderkey"]
        )
        .join(
            F.broadcast(customer),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ),
                2,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


_SQL_TPCH_SHIPPING_PRIORITY = f"""
SELECT l_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '{_Q3_CUTOFF}'
  AND l_shipdate > TIMESTAMP '{_Q3_CUTOFF}'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def _q_tpch_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): five-way snowflake join
    where supplier and customer must share a nation, revenue per nation.
    The nation⋈region dim chain is broadcast; the only big shuffles are
    lineitem⋈orders and the customer co-location check."""
    sf = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")  # noqa: E731
    dims = (
        sf("nation")
        .join(
            F.broadcast(
                sf("region").filter(F.col("r_name") == "ASIA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supplier = sf("supplier").join(
        F.broadcast(dims),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    joined = (
        sf("lineitem")
        .join(sf("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            sf("customer"),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return joined.groupBy("n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            2,
        ).alias("revenue")
    )


_SQL_TPCH_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


_ZORDER_SHIFT = 13


def _q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering statistics: interleave user_id and
    hour-of-month bits, bucket rows by the curve's high bits (the file
    boundary a Z-ordered write would produce), and report each bucket's
    min/max envelope on BOTH dimensions — the per-file statistics that
    let a scan skip files for predicates on either column. Pure JVM bit
    arithmetic, bit-identical to the SQL oracle."""
    from search_spark.operators.layout import zorder_key

    ev = _events(spark, sf_dir)
    hidx = (F.dayofmonth("ts") - 1) * 24 + F.hour("ts")
    z = zorder_key([F.col("user_id"), hidx])
    return (
        ev.select(
            F.col("user_id"),
            hidx.alias("hidx"),
            F.shiftright(z, _ZORDER_SHIFT).alias("zbucket"),
        )
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("user_id").alias("min_user"),
            F.max("user_id").alias("max_user"),
            F.min("hidx").alias("min_hidx"),
            F.max("hidx").alias("max_hidx"),
        )
    )


def _zorder_oracle_sql() -> str:
    from search_spark.operators.layout import zorder_key_sql

    hidx = "(date_part('day', ts) - 1) * 24 + date_part('hour', ts)"
    z = zorder_key_sql(["user_id", "hidx"])
    return f"""
WITH x AS (
  SELECT user_id, CAST({hidx} AS BIGINT) AS hidx FROM events),
zc AS (SELECT user_id, hidx, ({z}) AS z FROM x)
SELECT (z >> {_ZORDER_SHIFT}) AS zbucket,
       COUNT(*) AS n_rows,
       MIN(user_id) AS min_user, MAX(user_id) AS max_user,
       MIN(hidx) AS min_hidx, MAX(hidx) AS max_hidx
FROM zc GROUP BY (z >> {_ZORDER_SHIFT})
"""


_LP_HUB_CAP = 64
_LP_MIN_COMMON = 2
_LP_WEIGHT_MULT = 1.0


def _q_kg_link_prediction(spark, sf_dir):
    """Adamic-Adar / common-neighbor link prediction: rank entity pairs
    that are never co-mentioned by how many (and how selective) contexts
    they share — the alias-candidate pass a KG builder runs after
    canonicalization (reference surfaces alias pairs only through its
    embedding kNN, `entity_linking` path). Predicts on the
    strong-association subgraph (pairs with co-occurrence count ≥ mean,
    computed as a broadcast 1-row aggregate — the raw gazetteer
    multigraph is near-complete, leaving nothing to predict). Wedge
    join at the shared neighbor with a hub-degree cap (`deg(z) ≤ 64`)
    so a stop-entity never expands d² wedge rows; existing edges
    removed by anti-join; output is candidate-sized."""
    from search_spark.operators.graph import link_prediction

    return link_prediction(
        _kg_edge_instances(spark, sf_dir),
        hub_cap=_LP_HUB_CAP,
        min_common=_LP_MIN_COMMON,
        weight_mult=_LP_WEIGHT_MULT,
    )


_SQL_KG_LINK_PREDICTION = f"""
{_MENTIONS_SQL}, {_EDGES_SQL_BODY},
wund AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v,
                COUNT(*) AS c
         FROM edges WHERE src <> dst GROUP BY 1, 2),
mw AS (SELECT AVG(c) AS mean_c FROM wund),
und AS (SELECT u, v FROM wund, mw WHERE c >= {_LP_WEIGHT_MULT} * mean_c),
nbr AS (SELECT u AS z, v AS x FROM und UNION ALL SELECT v AS z, u AS x FROM und),
deg AS (SELECT z, COUNT(*) AS d FROM nbr GROUP BY z),
nok AS (SELECT nbr.z, nbr.x, deg.d FROM nbr JOIN deg ON deg.z = nbr.z
        WHERE deg.d <= {_LP_HUB_CAP}),
sc AS (SELECT n1.x AS a, n2.x AS b, COUNT(*) AS n_common,
              SUM(1.0 / LN(n1.d)) AS aa
       FROM nok n1 JOIN nok n2 ON n1.z = n2.z AND n1.x < n2.x
       GROUP BY n1.x, n2.x HAVING COUNT(*) >= {_LP_MIN_COMMON}),
cand AS (SELECT sc.* FROM sc
         WHERE NOT EXISTS (SELECT 1 FROM und
                           WHERE und.u = sc.a AND und.v = sc.b))
SELECT c.a, c.b, CAST(c.n_common AS BIGINT) AS n_common,
       ROUND(c.aa, 4) AS aa_score,
       ROUND(CAST(c.n_common AS DOUBLE) / (da.d + db.d - c.n_common), 4)
         AS jaccard
FROM cand c JOIN deg da ON da.z = c.a JOIN deg db ON db.z = c.b
"""


_ESD_K = 8  # window length in tokens (Lee et al. 2021 use 50 BPE tokens)


def _q_exact_substring_dups(spark, sf_dir):
    """Exact-substring duplication profile (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): for
    every document, how many of its distinct K-token windows also occur
    in some other document. Windows are built with a JVM `transform`
    over `sequence` (zero UDF, zero extra shuffle before the explode)
    and immediately collapsed to an md5 key so the shuffle carries a
    fixed-width hash, never the window text (at 100 TB the window
    stream is corpus×K-sized — hashing first is the difference between
    a shuffle of hashes and a shuffle of the corpus). Shared windows
    are found with one hash aggregate; output is per-document, only
    documents with ≥1 shared window."""
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= _ESD_K)
    )
    wins = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(t) - {_ESD_K}),"
                f" i -> md5(array_join(slice(t, i + 1, {_ESD_K}), ' ')))"
            )
        ).alias("w"),
    ).distinct()
    per_doc = wins.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows")
    )
    shared = (
        wins.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    n_shared = (
        wins.join(shared.select("w"), "w")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return n_shared.join(per_doc, "doc_id").select(
        "doc_id",
        "n_windows",
        "n_shared",
        F.round(F.col("n_shared") / F.col("n_windows"), 4).alias("dup_ratio"),
    )


_SQL_EXACT_SUBSTRING_DUPS = f"""
WITH wd AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t) - {_ESD_K} + 2),
                i -> md5(array_to_string(list_slice(t, i, i + {_ESD_K} - 1),
                                         ' ')))) AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= {_ESD_K}),
nw AS (SELECT doc_id, COUNT(*) AS n_windows FROM wd GROUP BY doc_id),
sh AS (SELECT w FROM wd GROUP BY w HAVING COUNT(*) >= 2),
ns AS (SELECT doc_id, COUNT(*) AS n_shared
       FROM wd JOIN sh USING (w) GROUP BY doc_id)
SELECT ns.doc_id, CAST(nw.n_windows AS BIGINT) AS n_windows,
       CAST(ns.n_shared AS BIGINT) AS n_shared,
       ROUND(CAST(ns.n_shared AS DOUBLE) / nw.n_windows, 4) AS dup_ratio
FROM ns JOIN nw ON nw.doc_id = ns.doc_id
"""


_LM_ALPHA = 0.5  # additive-smoothing mass


def _q_bigram_lm_score(spark, sf_dir):
    """Corpus-LM quality scoring (the CCNet recipe, Wenzek et al. 2020:
    score every document by a language model trained on the corpus
    itself and filter on perplexity): train an add-α bigram LM with two
    hash aggregates (bigram counts, unigram context counts), then score
    each document's bigram stream against it — P(w2|w1) =
    (c(w1,w2)+α) / (c(w1)+α·V). Bigrams come from a JVM `transform`
    over the token array (no token self-join); the count tables are
    vocabulary-sized so AQE broadcasts them into the scoring join; the
    vocabulary size is a 1-row broadcast, never a driver round-trip.
    Returns per-document mean negative log-likelihood — the filter
    column a perplexity gate thresholds."""
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 2)
    )
    bg = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    toks = _tokens(spark, sf_dir)
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = toks.groupBy(F.col("tok").alias("w1")).agg(
        F.count(F.lit(1)).alias("n1")
    )
    vocab = toks.agg(
        F.countDistinct("tok").cast("double").alias("v_size")
    )
    nll = -F.log(
        (F.col("n2") + F.lit(_LM_ALPHA))
        / (F.col("n1") + F.lit(_LM_ALPHA) * F.col("v_size"))
    )
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(nll), 4).alias("avg_nll"),
        )
    )


_SQL_BIGRAM_LM_SCORE = f"""
WITH {_TOKS_SQL},
bg AS (SELECT a.doc_id, a.tok AS w1, b.tok AS w2
       FROM toks a JOIN toks b
         ON a.doc_id = b.doc_id AND b.tpos = a.tpos + 1),
c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT tok AS w1, COUNT(*) AS n1 FROM toks GROUP BY tok),
v AS (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v_size FROM toks)
SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(-LN((n2 + {_LM_ALPHA}) / (n1 + {_LM_ALPHA} * v_size))), 4)
         AS avg_nll
FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
GROUP BY bg.doc_id
"""


_RW_WALKS = 2
_RW_LEN = 4


def _q_kg_random_walks(spark, sf_dir):
    """Derandomized random-walk corpus (DeepWalk stage 1, Perozzi et al.
    2014) over the entity co-occurrence graph: every entity seeds
    `_RW_WALKS` walks of `_RW_LEN` steps; next hop is the neighbor
    minimizing `md5(seed:walk_no:step:x)` — uniform, reproducible, and a
    pure `min_by` join-aggregate per step (zero UDF, zero RNG state).
    Walk state stays vocabulary×walks-sized; adjacency is checkpointed
    once and reused by every step."""
    from search_spark.operators.graph import random_walks

    return random_walks(
        _kg_edge_instances(spark, sf_dir),
        n_walks=_RW_WALKS,
        walk_len=_RW_LEN,
    )


def _rw_ctes(n_walks: int, walk_len: int) -> tuple[str, str]:
    """Unrolled-CTE twin of `random_walks` — one arg_min join-aggregate
    per step, same md5 next-hop key, so both engines trace identical
    walks (md5 hex and lexicographic order agree across engines).
    Returns ``(cte_block, walk_rows_select)``."""
    parts = [f"""
und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
                            greatest(src, dst) AS v
                     FROM edges WHERE src <> dst),
nbr AS MATERIALIZED (SELECT u AS z, v AS x FROM und
                     UNION SELECT v AS z, u AS x FROM und),
w0 AS MATERIALIZED (
  SELECT s.z AS entity, CAST(t.walk_no AS INT) AS walk_no, s.z AS node
  FROM (SELECT DISTINCT z FROM nbr) s, range(0, {n_walks}) t(walk_no))"""]
    for k in range(1, walk_len + 1):
        parts.append(f"""
w{k} AS MATERIALIZED (
  SELECT c.entity, c.walk_no,
         arg_min(n.x, md5(concat_ws(':', c.entity, c.walk_no, {k}, n.x)))
           AS node
  FROM w{k - 1} c JOIN nbr n ON n.z = c.node
  GROUP BY c.entity, c.walk_no)""")
    selects = " UNION ALL ".join(
        f"SELECT entity, walk_no, {k} AS step, node FROM w{k}"
        for k in range(walk_len + 1)
    )
    return ",".join(parts), selects


def _random_walks_oracle_sql(n_walks: int = _RW_WALKS,
                             walk_len: int = _RW_LEN) -> str:
    ctes, selects = _rw_ctes(n_walks, walk_len)
    return f"{_MENTIONS_SQL}, {_EDGES_SQL_BODY}, {ctes}\n{selects}"


_N2V_RET_W = 1
_N2V_COMMON_W = 4
_N2V_OTHER_W = 1


def _q_kg_node2vec_walks(spark, sf_dir):
    """node2vec biased walks (Grover & Leskovec 2016) over the entity
    co-occurrence graph: the second-order variant of `kg_random_walks`
    where the next hop weighs return (1/p), triangle-closing (1), and
    exploration (1/q) moves differently — here integer weights
    (1, 4, 1), made exactly proportional WITHOUT RNG state by
    replicating each candidate `w` times and taking the md5-argmin over
    (seed, walk, step, candidate, replica): iid hashes give each
    replica the minimum equally often, so P(x) = w_x/Σw exactly and
    both engines trace identical walks."""
    from search_spark.operators.graph import node2vec_walks

    return node2vec_walks(
        _kg_edge_instances(spark, sf_dir),
        n_walks=_RW_WALKS,
        walk_len=_RW_LEN,
        ret_w=_N2V_RET_W,
        common_w=_N2V_COMMON_W,
        other_w=_N2V_OTHER_W,
    )


def _node2vec_oracle_sql(
    n_walks: int = _RW_WALKS,
    walk_len: int = _RW_LEN,
    ret_w: int = _N2V_RET_W,
    common_w: int = _N2V_COMMON_W,
    other_w: int = _N2V_OTHER_W,
) -> str:
    """Unrolled-CTE twin of `node2vec_walks`: per step a candidate CTE
    (weight CASE with an EXISTS triangle probe), a replica explode via
    `unnest(range(...))`, and an arg_min — the same md5 keys, so the
    biased traces match bit-for-bit."""
    parts = [f"""
und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
                            greatest(src, dst) AS v
                     FROM edges WHERE src <> dst),
nbr AS MATERIALIZED (SELECT u AS z, v AS x FROM und
                     UNION SELECT v AS z, u AS x FROM und),
s0 AS MATERIALIZED (
  SELECT s.z AS entity, CAST(t.walk_no AS INT) AS walk_no,
         CAST(NULL AS VARCHAR) AS prev, s.z AS node
  FROM (SELECT DISTINCT z FROM nbr) s, range(0, {n_walks}) t(walk_no))"""]
    for k in range(1, walk_len + 1):
        parts.append(f"""
c{k} AS (SELECT f.entity, f.walk_no, f.node, n.x,
  CASE WHEN f.prev IS NULL THEN 1
       WHEN n.x = f.prev THEN {ret_w}
       WHEN EXISTS (SELECT 1 FROM nbr t
                    WHERE t.z = f.prev AND t.x = n.x) THEN {common_w}
       ELSE {other_w} END AS w
  FROM s{k - 1} f JOIN nbr n ON n.z = f.node),
e{k} AS (SELECT entity, walk_no, node, x,
                unnest(range(1, w + 1)) AS rep FROM c{k}),
s{k} AS MATERIALIZED (
  SELECT entity, walk_no, MIN(node) AS prev,
         arg_min(x, md5(concat_ws(':', entity, walk_no, {k}, x, rep)))
           AS node
  FROM e{k} GROUP BY entity, walk_no)""")
    selects = " UNION ALL ".join(
        f"SELECT entity, walk_no, {k} AS step, node FROM s{k}"
        for k in range(walk_len + 1)
    )
    return f"{_MENTIONS_SQL}, {_EDGES_SQL_BODY}, {','.join(parts)}\n{selects}"


_SG_WINDOW = 2


def _q_kg_walk_skipgram(spark, sf_dir):
    """Skip-gram training pairs over the random-walk corpus (DeepWalk
    stage 2): (center, context) counts for every position pair within
    `_SG_WINDOW` steps on the same walk — with the existing
    `kg_negative_sampling` query this completes the KG-embedding data
    pipeline (walks → positive pairs → negatives). The pair join is
    keyed on (seed, walk_no) — walk-sized and window-bounded, never
    quadratic in walk length beyond the 2W+1 window — and the count
    aggregate partial-combines map-side."""
    from search_spark.operators.graph import random_walks

    w = random_walks(
        _kg_edge_instances(spark, sf_dir),
        n_walks=_RW_WALKS,
        walk_len=_RW_LEN,
    )
    a = w.select(
        "entity", "walk_no", F.col("step").alias("i"),
        F.col("node").alias("center"),
    )
    b = w.select(
        "entity", "walk_no", F.col("step").alias("j"),
        F.col("node").alias("context"),
    )
    return (
        a.join(b, ["entity", "walk_no"])
        .filter(
            (F.col("i") != F.col("j"))
            & (F.abs(F.col("i") - F.col("j")) <= _SG_WINDOW)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _walk_skipgram_oracle_sql() -> str:
    ctes, selects = _rw_ctes(_RW_WALKS, _RW_LEN)
    return f"""
{_MENTIONS_SQL}, {_EDGES_SQL_BODY}, {ctes},
walks AS ({selects})
SELECT a.node AS center, b.node AS context,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM walks a JOIN walks b
  ON a.entity = b.entity AND a.walk_no = b.walk_no
 AND a.step <> b.step AND abs(a.step - b.step) <= {_SG_WINDOW}
GROUP BY a.node, b.node
"""


def _q_kg_triple_confidence(spark, sf_dir):
    """Knowledge-Vault-style triple fusion (Dong et al. 2014): collapse
    per-extraction confidences into one score per distinct
    (subj, pred, obj) with a noisy-or — `1 - Π(1 - pᵢ)` — so a triple
    seen independently many times beats a single high-confidence hit.
    The per-extraction confidence is the deterministic proximity decay
    `1/(1 + |s_tpos - o_tpos|)` (the scorer hook's rule path; a model
    would supply pᵢ directly). The noisy-or is computed as
    `1 - exp(Σ log(1-pᵢ))` — a plain sum aggregate that
    partial-combines map-side, so the fusion is one shuffle on the
    triple key no matter how many provenances a head triple has."""
    rel = _doc_relations(spark, sf_dir)
    p = F.lit(1.0) / (
        F.lit(1.0) + F.abs(F.col("s_tpos") - F.col("o_tpos")).cast("double")
    )
    return (
        rel.select("subj", "pred", "obj", "doc_id", p.alias("p"))
        .groupBy("subj", "pred", "obj")
        .agg(
            F.count(F.lit(1)).alias("n_prov"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.round(
                F.lit(1.0) - F.exp(F.sum(F.log(F.lit(1.0) - F.col("p")))),
                6,
            ).alias("noisy_or"),
            F.round(F.max("p"), 6).alias("max_p"),
        )
    )


_SQL_KG_TRIPLE_CONFIDENCE = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
pr AS (SELECT subj, pred, obj, doc_id,
              1.0 / (1.0 + abs(s_tpos - o_tpos)) AS p
       FROM relations)
SELECT subj, pred, obj,
       CAST(COUNT(*) AS BIGINT) AS n_prov,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       ROUND(1.0 - EXP(SUM(LN(1.0 - p))), 6) AS noisy_or,
       ROUND(MAX(p), 6) AS max_p
FROM pr GROUP BY subj, pred, obj
"""


def _q_kg_pred_functionality(spark, sf_dir):
    """Per-predicate functionality metrics (Knowledge Vault / PaRiS
    fusion prior, Dong et al. 2014): over the distinct triple set,
    ``functionality = |subjects| / |(subj, obj) pairs|`` — 1.0 means
    each subject takes exactly one object (a functional predicate,
    where conflicting objects signal extraction errors) — plus the
    inverse for object-side cardinality. One distinct aggregate on the
    triple key, then one vocabulary-sized groupBy on pred; both
    partial-combine map-side."""
    t = (
        _q_kg_doc_triples(spark, sf_dir)
        .select("subj", "pred", "obj")
        .distinct()
    )
    return t.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"),
        F.round(F.countDistinct("subj") / F.count(F.lit(1)), 6).alias(
            "functionality"
        ),
        F.round(F.countDistinct("obj") / F.count(F.lit(1)), 6).alias(
            "inv_functionality"
        ),
    )


_SQL_KG_PRED_FUNCTIONALITY = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
t AS (SELECT DISTINCT subj, pred, obj FROM (
        SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj
        FROM mentions
        UNION ALL SELECT subj, pred, obj FROM relations))
SELECT pred,
       CAST(COUNT(*) AS BIGINT) AS n_triples,
       CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_subj,
       CAST(COUNT(DISTINCT obj) AS BIGINT) AS n_obj,
       ROUND(CAST(COUNT(DISTINCT subj) AS DOUBLE) / COUNT(*), 6)
         AS functionality,
       ROUND(CAST(COUNT(DISTINCT obj) AS DOUBLE) / COUNT(*), 6)
         AS inv_functionality
FROM t GROUP BY pred
"""


_CTX_K = 3  # context tokens each side


def _q_ner_context_windows(spark, sf_dir):
    """NER fine-tuning data prep: every mention with its `_CTX_K`-token
    left/right context window — the (context, span, label) rows a
    token-classification trainer consumes (the reference feeds its
    models whole sentences; window extraction is the web-scale variant
    where documents are too long to ship). The mention table joins back
    to the corpus token arrays on doc_id (co-partitioned: mentions are
    derived from the same scan) and the windows are pure JVM `slice` +
    `array_join` — zero UDF, and the shuffle carries only (doc_id,
    token-array) once per document, never per mention."""
    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("t"))
    m = _doc_mentions(spark, sf_dir)
    j = m.join(d, "doc_id")
    left_start = F.greatest(F.lit(0), F.col("tpos") - _CTX_K)
    left_len = F.col("tpos") - left_start
    right_len = F.greatest(
        F.lit(0),
        F.least(F.lit(_CTX_K), F.size("t") - F.col("tpos") - 1),
    )
    return j.select(
        "doc_id",
        "tpos",
        "mention",
        "entity_type",
        F.array_join(
            F.slice("t", left_start + 1, left_len), " "
        ).alias("left_ctx"),
        F.array_join(
            F.slice("t", F.col("tpos") + 2, right_len), " "
        ).alias("right_ctx"),
    )


_SQL_NER_CONTEXT_WINDOWS = f"""
{_MENTIONS_SQL},
d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
SELECT m.doc_id, m.tpos, m.mention, m.entity_type,
       COALESCE(array_to_string(
         list_slice(d.t, greatest(1, m.tpos + 1 - {_CTX_K}), m.tpos),
         ' '), '') AS left_ctx,
       COALESCE(array_to_string(
         list_slice(d.t, m.tpos + 2,
                    least(len(d.t), m.tpos + 1 + {_CTX_K})),
         ' '), '') AS right_ctx
FROM mentions m JOIN d ON d.doc_id = m.doc_id
"""


_TV_BATCHES = 4


def _q_kg_triple_versioning(spark, sf_dir):
    """Triple validity tracking across crawl batches (SCD2-style KG
    versioning: a continuously rebuilt KG needs to know when each fact
    appeared and whether it still holds): documents arrive in
    `_TV_BATCHES` deterministic batches (doc_id mod), each batch
    re-extracts its triples, and per distinct triple we emit the first
    and last batch it was observed in, how many batches carried it, and
    whether it is current (seen in the final batch). One distinct
    aggregate on (triple, batch) then one hash aggregate on the triple
    key — no window, no per-batch recomputation of history."""
    t = _q_kg_doc_triples(spark, sf_dir).select(
        "subj",
        "pred",
        "obj",
        (F.split("prov", ":").getItem(0).cast("long") % _TV_BATCHES).alias(
            "batch"
        ),
    ).distinct()
    return t.groupBy("subj", "pred", "obj").agg(
        F.min("batch").alias("first_seen"),
        F.max("batch").alias("last_seen"),
        F.count(F.lit(1)).alias("n_batches"),
        (F.max("batch") == F.lit(_TV_BATCHES - 1)).cast("int").alias(
            "is_current"
        ),
    )


_SQL_KG_TRIPLE_VERSIONING = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
tr AS (
  SELECT DISTINCT subj, pred, obj, batch FROM (
    SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj,
           doc_id % {_TV_BATCHES} AS batch
    FROM mentions
    UNION ALL
    SELECT subj, pred, obj, doc_id % {_TV_BATCHES} AS batch
    FROM relations))
SELECT subj, pred, obj,
       CAST(MIN(batch) AS BIGINT) AS first_seen,
       CAST(MAX(batch) AS BIGINT) AS last_seen,
       CAST(COUNT(*) AS BIGINT) AS n_batches,
       CAST(CASE WHEN MAX(batch) = {_TV_BATCHES - 1} THEN 1 ELSE 0 END
            AS INTEGER) AS is_current
FROM tr GROUP BY subj, pred, obj
"""


def _q_mixture_plan(spark, sf_dir):
    """Source-mixture planning (the DoReMi / Pile recipe: hit target
    per-domain mixture weights by downsampling, never upsampling): given
    a target weight per source — here derived deterministically from the
    source id, ``(id % 4) + 1`` — compute the largest corpus that
    preserves the target mixture exactly, then each source's take count
    and sampling rate. All arithmetic is exact integer (``n·W div w``),
    so the plan is reproducible bit-for-bit across engines; the binding
    cap is a 1-row aggregate broadcast into the final projection — the
    whole plan is one source-level groupBy on a corpus of any size."""
    d = _docs(spark, sf_dir)
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        F.regexp_extract("source", r"(\d+)$", 1).cast("long") % 4 + 1
    ).alias("weight")
    cw = counts.select("source", "n_docs", w)
    tot_w = cw.agg(F.sum("weight").alias("w_total"))
    j = cw.crossJoin(F.broadcast(tot_w))
    cap = j.agg(
        F.min(F.expr("n_docs * w_total div weight")).alias("cap")
    )
    return (
        j.crossJoin(F.broadcast(cap))
        .select(
            "source",
            "n_docs",
            "weight",
            F.expr("weight * cap div w_total").alias("take_n"),
            F.round(
                F.expr("weight * cap div w_total") / F.col("n_docs"), 6
            ).alias("sample_rate"),
        )
    )


_SQL_MIXTURE_PLAN = """
WITH c AS (SELECT source, COUNT(*) AS n_docs,
                  (CAST(regexp_extract(source, '(\\d+)$', 1) AS BIGINT)
                   % 4) + 1 AS weight
           FROM documents GROUP BY source),
tw AS (SELECT SUM(weight) AS w_total FROM c),
cap AS (SELECT MIN(n_docs * w_total // weight) AS cap FROM c, tw)
SELECT c.source, c.n_docs, CAST(c.weight AS BIGINT) AS weight,
       CAST(c.weight * cap.cap // tw.w_total AS BIGINT) AS take_n,
       ROUND(CAST(c.weight * cap.cap // tw.w_total AS DOUBLE) / c.n_docs,
             6) AS sample_rate
FROM c, tw, cap
"""


def _q_dedup_keep_best(spark, sf_dir):
    """Quality-aware dedup survivorship (the CCNet policy: keep the
    highest-quality member of each near-dup cluster, not the first
    seen): MinHash band candidates → connected components → per-cluster
    argmax of the type-token-ratio quality score, doc_id ascending as
    the tie-break. The argmax is the portable two-step (max score per
    cluster, then min doc_id at that score) on a 4-dp-rounded score so
    both engines pick identical representatives; everything after
    candidate generation is cluster-keyed aggregates."""
    from search_spark.operators.canonicalize import connected_components

    pairs = _minhash_band_pairs(spark, sf_dir)
    pad = lambda c: F.lpad(F.col(c).cast("string"), 12, "0")  # noqa: E731
    edges = pairs.select(
        pad("doc_id_a").alias("src"), pad("doc_id_b").alias("dst")
    ).localCheckpoint(eager=True)
    comps = connected_components(edges).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("rep"),
    )
    q = _docs(spark, sf_dir).select(
        "doc_id",
        F.round(
            F.size(F.array_distinct(F.split("text", " ")))
            / F.size(F.split("text", " ")),
            4,
        ).alias("ttr"),
    )
    j = q.join(comps, "doc_id", "left").select(
        "doc_id", F.coalesce("rep", "doc_id").alias("cluster"), "ttr"
    )
    m = j.groupBy("cluster").agg(F.max("ttr").alias("max_ttr"))
    best = (
        j.join(m, "cluster")
        .filter(F.col("ttr") == F.col("max_ttr"))
        .groupBy("cluster")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    return j.join(best, "cluster").select(
        "doc_id",
        "cluster",
        "keep_id",
        (F.col("doc_id") == F.col("keep_id")).cast("int").alias("is_kept"),
    )


_SQL_DEDUP_KEEP_BEST = f"""
WITH RECURSIVE {_BAND_PAIRS_SQL},
sym AS (SELECT doc_id_a AS a, doc_id_b AS b FROM cand
        UNION SELECT doc_id_b, doc_id_a FROM cand),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
comp AS (SELECT a AS doc_id, least(a, min(b)) AS rep FROM reach
         WHERE a <> b GROUP BY a),
q AS (SELECT doc_id,
             round(len(list_distinct(t)) * 1.0 / len(t), 4) AS ttr
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
j AS (SELECT q.doc_id,
             CAST(COALESCE(comp.rep, q.doc_id) AS BIGINT) AS cluster,
             q.ttr
      FROM q LEFT JOIN comp ON comp.doc_id = q.doc_id),
m AS (SELECT cluster, MAX(ttr) AS max_ttr FROM j GROUP BY cluster),
best AS (SELECT j.cluster, MIN(j.doc_id) AS keep_id
         FROM j JOIN m ON m.cluster = j.cluster AND j.ttr = m.max_ttr
         GROUP BY j.cluster)
SELECT j.doc_id, j.cluster, CAST(best.keep_id AS BIGINT) AS keep_id,
       CAST(CASE WHEN j.doc_id = best.keep_id THEN 1 ELSE 0 END
            AS INTEGER) AS is_kept
FROM j JOIN best ON best.cluster = j.cluster
"""


_HITS_ITER = 8


def _q_kg_hits(spark, sf_dir):
    """HITS hubs-and-authorities over the directed co-occurrence edge
    set — frequent-object vs frequent-subject importance, the complement
    diagnostic to PageRank. Coupled power iteration (8 rounds), each
    update a join-aggregate with the L2 normalizer carried as a 1-row
    broadcast, per-round lineage checkpoints."""
    from search_spark.operators.graph import hits

    return hits(_kg_edge_instances(spark, sf_dir), n_iter=_HITS_ITER)


def _hits_oracle_sql(n_iter: int = _HITS_ITER) -> str:
    """Unrolled-CTE twin of `hits` — (raw, full, norm, scaled) quadruple
    per direction per iteration, straight-line relational plan."""
    parts = ["""
de AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
hn AS MATERIALIZED (SELECT src AS entity FROM de UNION SELECT dst FROM de),
h0 AS MATERIALIZED (SELECT entity, 1.0 AS h FROM hn)"""]
    for k in range(1, n_iter + 1):
        parts.append(f"""
ra{k} AS MATERIALIZED (SELECT de.dst AS entity, SUM(p.h) AS s
  FROM de JOIN h{k - 1} p ON p.entity = de.src GROUP BY de.dst),
af{k} AS MATERIALIZED (SELECT n.entity, COALESCE(ra{k}.s, 0) AS s
  FROM hn n LEFT JOIN ra{k} ON ra{k}.entity = n.entity),
a{k} AS MATERIALIZED (SELECT entity,
  s / (SELECT SQRT(SUM(s * s)) FROM af{k}) AS a FROM af{k}),
rh{k} AS MATERIALIZED (SELECT de.src AS entity, SUM(p.a) AS s
  FROM de JOIN a{k} p ON p.entity = de.dst GROUP BY de.src),
hf{k} AS MATERIALIZED (SELECT n.entity, COALESCE(rh{k}.s, 0) AS s
  FROM hn n LEFT JOIN rh{k} ON rh{k}.entity = n.entity),
h{k} AS MATERIALIZED (SELECT entity,
  s / (SELECT SQRT(SUM(s * s)) FROM hf{k}) AS h FROM hf{k})""")
    return f"""
{_MENTIONS_SQL}, {_EDGES_SQL_BODY}, {','.join(parts)}
SELECT a.entity, ROUND(a.a, 6) AS authority, ROUND(h.h, 6) AS hub
FROM a{n_iter} a JOIN h{n_iter} h ON h.entity = a.entity
"""


def _q_ann_recall(spark, sf_dir):
    """ANN quality measurement (the recall@k a production ANN deploy
    gates on): overlap between the PQ/ADC approximate top-k and the
    exact L2 top-k for the same query. Both lists are k-row
    TakeOrdereds (exact side pays the full-corpus scan ONCE — this is
    the evaluation harness, not the serving path); the comparison is a
    k×k-bounded join. Output is one row: (k, n_overlap, recall).
    On the synthetic near-uniform fixture embeddings recall is
    inherently low (~0.2: little cluster structure for 4 label-mean
    codebooks to exploit) — the op reports it faithfully, which is
    exactly what a production gate needs."""
    approx = _q_pq_adc_search(spark, sf_dir).select("vec_id")
    vs = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v_arr"),
    )
    q = vs.filter(F.col("vec_id") == 0).select(
        F.col("v_arr").alias("q_arr")
    )
    exact = (
        vs.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                F.aggregate(
                    F.zip_with(
                        "v_arr", "q_arr", lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(_PQ_TOPK)
        .select("vec_id")
    )
    return approx.join(exact, "vec_id").agg(
        F.max(F.lit(_PQ_TOPK)).alias("k"),
        F.count(F.lit(1)).alias("n_overlap"),
        F.round(F.count(F.lit(1)) / F.lit(float(_PQ_TOPK)), 4).alias(
            "recall"
        ),
    )


_SQL_ANN_RECALL = f"""
WITH {_PQ_CODES_CTES},
qv AS (SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v_arr
       FROM embeddings WHERE vec_id = 0),
lut AS (
  SELECT cb.subspace, cb.label AS code,
         round(list_reduce(
           list_transform(range(1, {_PQ_SUBDIM} + 1),
             i -> (v_arr[cb.subspace * {_PQ_SUBDIM} + i] - c_sub[i])
                  * (v_arr[cb.subspace * {_PQ_SUBDIM} + i] - c_sub[i])),
           (a, b) -> a + b), 6) AS ld
  FROM cb, qv),
approx AS (
  SELECT c.vec_id FROM codes c
  JOIN lut l ON l.subspace = c.subspace AND l.code = c.code
  WHERE c.vec_id <> 0 GROUP BY c.vec_id
  ORDER BY round(SUM(l.ld), 6), c.vec_id LIMIT {_PQ_TOPK}),
exact AS (
  SELECT v.vec_id FROM vs v, qv
  WHERE v.vec_id <> 0
  ORDER BY round(list_reduce(
      list_transform(range(1, len(v.v_arr) + 1),
                     i -> (v.v_arr[i] - qv.v_arr[i])
                          * (v.v_arr[i] - qv.v_arr[i])),
      (a, b) -> a + b), 6), v.vec_id
  LIMIT {_PQ_TOPK})
SELECT {_PQ_TOPK} AS k,
       CAST(COUNT(*) AS BIGINT) AS n_overlap,
       ROUND(CAST(COUNT(*) AS DOUBLE) / {_PQ_TOPK}, 4) AS recall
FROM approx JOIN exact ON exact.vec_id = approx.vec_id
"""


_CHUNK_LEN = 32
_CHUNK_STRIDE = 24  # 8-token overlap


def _q_doc_chunks(spark, sf_dir):
    """Sliding-window document chunking (context-window prep for RAG /
    long-doc training): fixed-length token windows with overlap, built
    from one JVM `sequence` of chunk starts exploded per document and a
    `slice`/`array_join` per chunk — zero UDF, zero shuffle (a pure
    per-row map over the scan; the explode multiplies rows by
    n_tokens/stride, never by corpus size)."""
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 1)
    )
    return d.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.size("t") - 1,
                F.lit(_CHUNK_STRIDE),
            )
        ).alias("start"),
        "t",
    ).select(
        "doc_id",
        F.expr(f"start div {_CHUNK_STRIDE}").alias("chunk_id"),
        F.size(F.expr(f"slice(t, start + 1, {_CHUNK_LEN})")).cast(
            "long"
        ).alias("n_tokens"),
        F.array_join(
            F.expr(f"slice(t, start + 1, {_CHUNK_LEN})"), " "
        ).alias("chunk_text"),
    )


_SQL_DOC_CHUNKS = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
           WHERE len(string_split(text, ' ')) >= 1),
st AS (SELECT doc_id, t,
              unnest(range(0, len(t), {_CHUNK_STRIDE})) AS start
       FROM d)
SELECT doc_id,
       start // {_CHUNK_STRIDE} AS chunk_id,
       CAST(len(list_slice(t, start + 1, start + {_CHUNK_LEN}))
            AS BIGINT) AS n_tokens,
       array_to_string(list_slice(t, start + 1, start + {_CHUNK_LEN}),
                       ' ') AS chunk_text
FROM st
"""


_HN_BITS = 8  # sign-bucket bits — same bucketing as ann_lsh


def _q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for metric-learning / embedding training
    (the in-batch-negatives upgrade every contrastive recipe wants):
    for each vector, the most-similar vector carrying a DIFFERENT
    label. All-pairs is a corpus² cartesian, so candidates come from
    the same LSH sign bucket (first `_HN_BITS` dims) — per-bucket |b|²
    work, the same scale shape as `embedding_neardup`; the argmax is
    the portable two-step on the 4-dp-rounded cosine. Vectors with no
    cross-label bucket-mate produce no row (candidate-limited, exactly
    what the bucketed scale path implies)."""
    emb = _emb(spark, sf_dir)
    bucket = F.concat_ws(
        "",
        *[
            F.when(F.element_at("embedding", i + 1) >= 0, F.lit("1"))
            .otherwise(F.lit("0"))
            for i in range(_HN_BITS)
        ],
    )
    b = emb.select("vec_id", "label", "embedding", bucket.alias("bucket"))
    a = b.select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("a_emb"),
        "bucket",
    )
    c = b.select(
        F.col("vec_id").alias("b_id"),
        F.col("label").alias("b_label"),
        F.col("embedding").alias("b_emb"),
        "bucket",
    )
    pairs = (
        a.join(c, "bucket")
        .filter(
            (F.col("a_id") != F.col("b_id"))
            & (F.col("a_label") != F.col("b_label"))
        )
        .select(
            "a_id",
            "a_label",
            "b_id",
            "b_label",
            F.round(
                _cosine_double(F.col("a_emb"), F.col("b_emb")), 4
            ).alias("sim"),
        )
    )
    m = pairs.groupBy("a_id").agg(F.max("sim").alias("max_sim"))
    return (
        pairs.join(m, "a_id")
        .filter(F.col("sim") == F.col("max_sim"))
        .groupBy("a_id", "a_label")
        .agg(
            F.min("b_id").alias("neg_id"),
            F.max("sim").alias("sim"),
        )
        .select(
            F.col("a_id").alias("vec_id"),
            F.col("a_label").alias("label"),
            "neg_id",
            "sim",
        )
    )


_SQL_HARD_NEGATIVES = f"""
WITH b AS (
  SELECT vec_id, label, embedding, {" || ".join(
      f"(CASE WHEN embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END)"
      for i in range(_HN_BITS)
  )} AS bucket
  FROM embeddings),
pairs AS (
  SELECT a.vec_id AS a_id, a.label AS a_label, c.vec_id AS b_id,
         round(
           list_reduce(list_transform(range(1, len(a.embedding) + 1),
             i -> CAST(a.embedding[i] AS DOUBLE)
                  * CAST(c.embedding[i] AS DOUBLE)), (x, y) -> x + y)
           / (sqrt(list_reduce(list_transform(range(1, len(a.embedding) + 1),
                i -> CAST(a.embedding[i] AS DOUBLE)
                     * CAST(a.embedding[i] AS DOUBLE)), (x, y) -> x + y))
              * sqrt(list_reduce(list_transform(range(1, len(c.embedding) + 1),
                i -> CAST(c.embedding[i] AS DOUBLE)
                     * CAST(c.embedding[i] AS DOUBLE)), (x, y) -> x + y))),
           4) AS sim
  FROM b a JOIN b c ON a.bucket = c.bucket
  WHERE a.vec_id <> c.vec_id AND a.label <> c.label),
m AS (SELECT a_id, MAX(sim) AS max_sim FROM pairs GROUP BY a_id)
SELECT p.a_id AS vec_id, p.a_label AS label,
       MIN(p.b_id) AS neg_id, MAX(p.sim) AS sim
FROM pairs p JOIN m ON m.a_id = p.a_id AND p.sim = m.max_sim
GROUP BY p.a_id, p.a_label
"""


_PP_MAX_HOPS = 3


def _q_kg_property_path(spark, sf_dir):
    """SPARQL property path (operators/paths.py) with binding propagation:
    seeds = entities starting with 's'; path =
    ``(DIFF | ^DIFF){1,3} / has_type`` — undirected bounded closure over
    the co-letter relation, then a type lookup. Inverse is normalized to
    the leaves; repetition is semi-naive with per-round checkpoints."""
    from search_spark.operators.paths import (
        Alt,
        Inv,
        Pred,
        Repeat,
        Seq,
        eval_path,
    )

    # the evaluator scans the triple table once per leaf per round —
    # materialize the (NER-derived) table once so every scan reads cached
    # blocks, not a re-run of the extraction lineage (localCheckpoint here
    # trips SPARK attribute resolution under the evaluator's self-joins)
    t = _q_kg_doc_triples(spark, sf_dir).select("subj", "pred", "obj").cache()
    t.count()
    seeds = (
        t.filter(F.col("subj").startswith("s"))
        .select(F.col("subj").alias("src"))
        .distinct()
    )
    path = Seq(
        Repeat(Alt(Pred(DIFF), Inv(Pred(DIFF))), _PP_MAX_HOPS),
        Pred("has_type"),
    )
    return eval_path(t, path, seeds).select(
        F.col("src").alias("entity"), F.col("dst").alias("reached_type")
    )


_SQL_KG_PROPERTY_PATH = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
t AS MATERIALIZED (SELECT DISTINCT subj, pred, obj FROM (
    SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj
    FROM mentions
    UNION ALL SELECT subj, pred, obj FROM relations)),
step AS MATERIALIZED (
    SELECT subj AS src, obj AS dst FROM t WHERE pred = '{DIFF}'
    UNION
    SELECT obj AS src, subj AS dst FROM t WHERE pred = '{DIFF}'),
seeds AS (SELECT DISTINCT subj AS src FROM t WHERE subj LIKE 's%'),
hop1 AS MATERIALIZED (
    SELECT DISTINCT s.src, e.dst FROM seeds s JOIN step e ON e.src = s.src),
hop2 AS MATERIALIZED (
    SELECT DISTINCT h.src, e.dst FROM hop1 h JOIN step e ON e.src = h.dst),
hop3 AS MATERIALIZED (
    SELECT DISTINCT h.src, e.dst FROM hop2 h JOIN step e ON e.src = h.dst),
rep AS (SELECT src, dst FROM hop1 UNION SELECT src, dst FROM hop2
        UNION SELECT src, dst FROM hop3)
SELECT DISTINCT r.src AS entity, t.obj AS reached_type
FROM rep r JOIN t ON t.subj = r.dst AND t.pred = 'has_type'
"""


_BOOT_WINDOW = 4
_BOOT_SEED_DOCS = 5
_BOOT_MIN_SUPPORT = 2
_BOOT_TOP_K = 10


def _q_kg_pattern_bootstrap(spark, sf_dir):
    """One DIPRE/Snowball bootstrap round (operators/bootstrap.py): seed
    pairs = co-occurrences in the first few documents, patterns = middle
    contexts supported by ≥2 distinct seeds (top-10 deterministic), then
    the patterns harvest non-seed pairs corpus-wide."""
    from search_spark.operators.bootstrap import (
        apply_patterns,
        induce_patterns,
        pair_contexts,
    )

    toks = _tokens(spark, sf_dir)
    m = _doc_mentions(spark, sf_dir)
    # contexts feed seed derivation, induction AND application — one
    # cached pass instead of three token-join recomputes
    contexts = pair_contexts(toks, m, _BOOT_WINDOW).cache()
    seeds = (
        contexts.filter(F.col("doc_id") < _BOOT_SEED_DOCS)
        .select("subj", "obj")
        .distinct()
    )
    patterns = induce_patterns(
        contexts, seeds, _BOOT_MIN_SUPPORT, _BOOT_TOP_K
    )
    return apply_patterns(contexts, patterns, seeds)


_SQL_KG_PATTERN_BOOTSTRAP = f"""
{_MENTIONS_SQL},
pairs AS (
  SELECT a.doc_id, a.tpos AS a_tpos, b.tpos AS b_tpos,
         a.mention AS subj, b.mention AS obj
  FROM mentions a JOIN mentions b
    ON a.doc_id = b.doc_id
   AND b.tpos - a.tpos BETWEEN 1 AND {_BOOT_WINDOW}
),
ctx AS (
  SELECT p.doc_id, p.a_tpos, p.b_tpos, p.subj, p.obj,
         COALESCE(string_agg(t.tok, ' ' ORDER BY t.tpos), '') AS middle
  FROM pairs p LEFT JOIN toks t
    ON t.doc_id = p.doc_id AND t.tpos > p.a_tpos AND t.tpos < p.b_tpos
  GROUP BY p.doc_id, p.a_tpos, p.b_tpos, p.subj, p.obj
),
seeds AS (
  SELECT DISTINCT subj, obj FROM ctx WHERE doc_id < {_BOOT_SEED_DOCS}
),
pat AS (
  SELECT middle, count(DISTINCT (c.subj, c.obj)) AS support,
         count(*) AS n_occ
  FROM ctx c JOIN seeds s ON c.subj = s.subj AND c.obj = s.obj
  GROUP BY middle
  HAVING count(DISTINCT (c.subj, c.obj)) >= {_BOOT_MIN_SUPPORT}
),
top AS (
  SELECT middle FROM pat
  ORDER BY support DESC, n_occ DESC, middle ASC LIMIT {_BOOT_TOP_K}
),
harvest AS (
  SELECT c.subj, c.obj, c.middle AS pattern, count(*) AS n_occ
  FROM ctx c JOIN top ON c.middle = top.middle
  WHERE NOT EXISTS (
    SELECT 1 FROM seeds s WHERE s.subj = c.subj AND s.obj = c.obj)
  GROUP BY c.subj, c.obj, c.middle
)
SELECT subj, obj, pattern, CAST(n_occ AS BIGINT) AS n_occ FROM harvest
"""


_BOOT_ROUNDS = 2


def _q_kg_bootstrap_iterate(spark, sf_dir):
    """Iterative Snowball (operators/bootstrap.py): round 1's harvested
    pairs join the seed set, patterns re-induce against the grown seeds,
    round 2 harvests again; output = (subj, obj, first-harvest round).
    Monotone loop with early exit — identical to the oracle's unroll."""
    from search_spark.operators.bootstrap import (
        bootstrap_iterate,
        pair_contexts,
    )

    toks = _tokens(spark, sf_dir)
    m = _doc_mentions(spark, sf_dir)
    # seeds = window-bounded mention pairs of the first few docs — exactly
    # the contexts rows with doc_id < seed_docs (the oracle's seeds0 FROM
    # ctx), so derive them from the cached context table instead of paying
    # a second mention self-join subtree
    contexts = pair_contexts(toks, m, _BOOT_WINDOW).cache()
    seeds = (
        contexts.filter(F.col("doc_id") < _BOOT_SEED_DOCS)
        .select("subj", "obj")
        .distinct()
    )
    return bootstrap_iterate(
        toks,
        m,
        seeds,
        rounds=_BOOT_ROUNDS,
        window=_BOOT_WINDOW,
        min_support=_BOOT_MIN_SUPPORT,
        top_k=_BOOT_TOP_K,
        contexts=contexts,
    )


def _bootstrap_iterate_oracle_sql() -> str:
    """Fixed 2-round unroll; every reused CTE MATERIALIZED."""
    head = f"""
{_MENTIONS_SQL},
pairs AS (
  SELECT a.doc_id, a.tpos AS a_tpos, b.tpos AS b_tpos,
         a.mention AS subj, b.mention AS obj
  FROM mentions a JOIN mentions b
    ON a.doc_id = b.doc_id
   AND b.tpos - a.tpos BETWEEN 1 AND {_BOOT_WINDOW}
),
ctx AS MATERIALIZED (
  SELECT p.doc_id, p.a_tpos, p.b_tpos, p.subj, p.obj,
         COALESCE(string_agg(t.tok, ' ' ORDER BY t.tpos), '') AS middle
  FROM pairs p LEFT JOIN toks t
    ON t.doc_id = p.doc_id AND t.tpos > p.a_tpos AND t.tpos < p.b_tpos
  GROUP BY p.doc_id, p.a_tpos, p.b_tpos, p.subj, p.obj
),
seeds0 AS MATERIALIZED (
  SELECT DISTINCT subj, obj FROM ctx WHERE doc_id < {_BOOT_SEED_DOCS}
)"""
    rounds = []
    for r in range(1, _BOOT_ROUNDS + 1):
        prev = f"seeds{r - 1}"
        rounds.append(f""",
top{r} AS MATERIALIZED (
  SELECT middle FROM (
    SELECT middle, count(DISTINCT (c.subj, c.obj)) AS support,
           count(*) AS n_occ
    FROM ctx c JOIN {prev} s ON c.subj = s.subj AND c.obj = s.obj
    GROUP BY middle
    HAVING count(DISTINCT (c.subj, c.obj)) >= {_BOOT_MIN_SUPPORT})
  ORDER BY support DESC, n_occ DESC, middle ASC LIMIT {_BOOT_TOP_K}
),
new{r} AS MATERIALIZED (
  SELECT DISTINCT c.subj, c.obj
  FROM ctx c JOIN top{r} ON c.middle = top{r}.middle
  WHERE NOT EXISTS (
    SELECT 1 FROM {prev} s WHERE s.subj = c.subj AND s.obj = c.obj)
),
seeds{r} AS MATERIALIZED (
  SELECT subj, obj FROM {prev} UNION SELECT subj, obj FROM new{r}
)""")
    tail = "\nUNION ALL\n".join(
        f"SELECT subj, obj, CAST({r} AS BIGINT) AS round FROM new{r}"
        for r in range(1, _BOOT_ROUNDS + 1)
    )
    return head + "".join(rounds) + "\n" + tail


QUERIES: dict[str, Q] = {
    "kg_bootstrap_iterate": Q(
        _q_kg_bootstrap_iterate, _bootstrap_iterate_oracle_sql()
    ),
    "kg_pattern_bootstrap": Q(
        _q_kg_pattern_bootstrap, _SQL_KG_PATTERN_BOOTSTRAP
    ),
    "kg_property_path": Q(_q_kg_property_path, _SQL_KG_PROPERTY_PATH),
    "kg_doc_mentions": Q(_q_kg_doc_mentions, _SQL_KG_DOC_MENTIONS),
    "kg_link_prediction": Q(_q_kg_link_prediction, _SQL_KG_LINK_PREDICTION),
    "kg_random_walks": Q(_q_kg_random_walks, _random_walks_oracle_sql()),
    "kg_walk_skipgram": Q(_q_kg_walk_skipgram, _walk_skipgram_oracle_sql()),
    "kg_node2vec_walks": Q(_q_kg_node2vec_walks, _node2vec_oracle_sql()),
    "kg_hits": Q(_q_kg_hits, _hits_oracle_sql()),
    "kg_triple_confidence": Q(
        _q_kg_triple_confidence, _SQL_KG_TRIPLE_CONFIDENCE
    ),
    "kg_pred_functionality": Q(
        _q_kg_pred_functionality, _SQL_KG_PRED_FUNCTIONALITY
    ),
    "ner_context_windows": Q(
        _q_ner_context_windows, _SQL_NER_CONTEXT_WINDOWS
    ),
    "mixture_plan": Q(_q_mixture_plan, _SQL_MIXTURE_PLAN),
    "kg_triple_versioning": Q(
        _q_kg_triple_versioning, _SQL_KG_TRIPLE_VERSIONING
    ),
    "dedup_keep_best": Q(_q_dedup_keep_best, _SQL_DEDUP_KEEP_BEST),
    "exact_substring_dups": Q(
        _q_exact_substring_dups, _SQL_EXACT_SUBSTRING_DUPS
    ),
    "bigram_lm_score": Q(_q_bigram_lm_score, _SQL_BIGRAM_LM_SCORE),
    "kg_doc_relations": Q(_q_kg_doc_relations, _SQL_KG_DOC_RELATIONS),
    "kg_doc_triples": Q(_q_kg_doc_triples, _SQL_KG_DOC_TRIPLES),
    "kg_entity_degree": Q(_q_kg_entity_degree, _SQL_KG_ENTITY_DEGREE),
    "kg_pagerank": Q(_q_kg_pagerank, _pagerank_oracle_sql()),
    "kg_pagerank_incremental": Q(
        _q_kg_pagerank_incremental, _incremental_pagerank_oracle_sql()
    ),
    "kg_triangles": Q(_q_kg_triangles, _SQL_KG_TRIANGLES),
    "kg_clustering": Q(_q_kg_clustering, _SQL_KG_CLUSTERING),
    "kg_two_hop": Q(_q_kg_two_hop, _SQL_KG_TWO_HOP),
    "kg_communities": Q(_q_kg_communities, _lpa_oracle_sql()),
    "kg_kcore": Q(_q_kg_kcore, _kcore_oracle_sql()),
    "kg_components": Q(_q_kg_components, _SQL_KG_COMPONENTS),
    "kg_negative_samples": Q(
        _q_kg_negative_samples, _negative_samples_oracle_sql()
    ),
    "kg_personalized_pagerank": Q(
        _q_kg_personalized_pagerank, _ppr_oracle_sql()
    ),
    "kg_bgp_match": Q(_q_kg_bgp_match, _SQL_KG_BGP_MATCH),
    "sparql_select": Q(_q_sparql_select, _SQL_SPARQL_SELECT),
    "sparql_aggregate": Q(_q_sparql_aggregate, _SQL_SPARQL_AGGREGATE),
    "sparql_expr_project": Q(
        _q_sparql_expr_project, _SQL_SPARQL_EXPR_PROJECT
    ),
    "sparql_union_values": Q(_q_sparql_union_values, _SQL_SPARQL_UNION_VALUES),
    "sparql_property_path": Q(
        _q_sparql_property_path, _SQL_SPARQL_PROPERTY_PATH
    ),
    "sparql_subquery": Q(_q_sparql_subquery, _SQL_SPARQL_SUBQUERY),
    "ntriples_export": Q(_q_ntriples_export, _sql_ntriples_export()),
    "turtle_export": Q(_q_turtle_export, _sql_turtle_export()),
    "kg_bgp_optional": Q(_q_kg_bgp_optional, _SQL_KG_BGP_OPTIONAL),
    "kg_forward_chain": Q(_q_kg_forward_chain, _forward_chain_oracle_sql()),
    "kg_describe": Q(_q_kg_describe, _SQL_KG_DESCRIBE),
    "kg_shacl_validate": Q(_q_kg_shacl_validate, _SQL_KG_SHACL_VALIDATE),
    "kg_stats": Q(_q_kg_stats, _SQL_KG_STATS),
    "kg_char_sets": Q(_q_kg_char_sets, _SQL_KG_CHAR_SETS),
    "kg_snapshot_diff": Q(_q_kg_snapshot_diff, _SQL_KG_SNAPSHOT_DIFF),
    "vocab_coverage": Q(_q_vocab_coverage, _SQL_VOCAB_COVERAGE),
    "ngram_novelty": Q(_q_ngram_novelty, _SQL_NGRAM_NOVELTY),
    "length_deciles": Q(_q_length_deciles, _SQL_LENGTH_DECILES),
    "domain_stats": Q(_q_domain_stats, _SQL_DOMAIN_STATS),
    "sequence_packing": Q(_q_sequence_packing, _SQL_SEQUENCE_PACKING),
    "contamination_check": Q(
        _q_contamination_check, _SQL_CONTAMINATION_CHECK
    ),
    "quality_resample": Q(_q_quality_resample, _SQL_QUALITY_RESAMPLE),
    "kg_bfs_distances": Q(_q_kg_bfs_distances, _bfs_oracle_sql()),
    "kg_landmark_closeness": Q(
        _q_kg_landmark_closeness, _landmark_closeness_oracle_sql()
    ),
    "kg_hop_plot": Q(_q_kg_hop_plot, _hop_plot_oracle_sql()),
    "kg_assortativity": Q(_q_kg_assortativity, _SQL_KG_ASSORTATIVITY),
    "kg_wl_roles": Q(_q_kg_wl_roles, _wl_roles_oracle_sql()),
    "kg_katz_index": Q(_q_kg_katz_index, _SQL_KG_KATZ_INDEX),
    "kg_assoc_rules": Q(_q_kg_assoc_rules, _SQL_KG_ASSOC_RULES),
    "kg_edge_pmi": Q(_q_kg_edge_pmi, _SQL_KG_EDGE_PMI),
    "kg_mention_counts": Q(_q_kg_mention_counts, _SQL_KG_MENTION_COUNTS),
    "kg_ontology_join": Q(_q_kg_ontology_join, _SQL_KG_ONTOLOGY_JOIN),
    "sentence_filter": Q(_q_sentence_filter, _SQL_SENTENCE_FILTER),
    "semi_join_orders": Q(_q_semi_join_orders, _SQL_SEMI_JOIN_ORDERS),
    "group_concat_events": Q(_q_group_concat_events, _SQL_GROUP_CONCAT_EVENTS),
    "window_positions": Q(_q_window_positions, _SQL_WINDOW_POSITIONS),
    "sessionize_events": Q(_q_sessionize_events, _SQL_SESSIONIZE_EVENTS),
    "asof_join_events": Q(_q_asof_join_events, _SQL_ASOF_JOIN_EVENTS),
    "range_join_incidents": Q(
        _q_range_join_incidents, _SQL_RANGE_JOIN_INCIDENTS
    ),
    "time_rollup": Q(_q_time_rollup, _SQL_TIME_ROLLUP),
    "funnel_conversion": Q(_q_funnel_conversion, _SQL_FUNNEL_CONVERSION),
    "dense_time_series": Q(_q_dense_time_series, _SQL_DENSE_TIME_SERIES),
    "event_transitions": Q(_q_event_transitions, _SQL_EVENT_TRANSITIONS),
    "retention_cohorts": Q(_q_retention_cohorts, _SQL_RETENTION_COHORTS),
    "topk_similar": Q(_q_topk_similar, _SQL_TOPK_SIMILAR),
    "topk_groups": Q(_q_topk_groups, _SQL_TOPK_GROUPS),
    "dedup_exact": Q(_q_dedup_exact, _SQL_DEDUP_EXACT),
    "dedup_minhash": Q(_q_dedup_minhash, _SQL_DEDUP_MINHASH),
    "minhash_bands": Q(_q_minhash_bands, _SQL_MINHASH_BANDS),
    "dedup_simhash": Q(_q_dedup_simhash, _SQL_DEDUP_SIMHASH),
    "ngram_jaccard": Q(_q_ngram_jaccard, _SQL_NGRAM_JACCARD),
    "embedding_neardup": Q(_q_embedding_neardup, _SQL_EMBEDDING_NEARDUP),
    "token_stats": Q(_q_token_stats, _SQL_TOKEN_STATS),
    "quality_score": Q(_q_quality_score, _SQL_QUALITY_SCORE),
    "doc_fingerprint": Q(_q_doc_fingerprint, _SQL_DOC_FINGERPRINT),
    "semantic_search": Q(_q_semantic_search, _SQL_SEMANTIC_SEARCH),
    "ann_lsh_topk": Q(_q_ann_lsh_topk, _SQL_ANN_LSH_TOPK),
    "topic_filter": Q(_q_topic_filter, _SQL_TOPIC_FILTER),
    "tpch_pricing_summary": Q(_q_tpch_pricing_summary, _SQL_TPCH_PRICING_SUMMARY),
    "top_customers": Q(_q_top_customers, _SQL_TOP_CUSTOMERS),
    "langid_ngram": Q(_q_langid_ngram, _SQL_LANGID_NGRAM),
    "anti_join_resume": Q(_q_anti_join_resume, _SQL_ANTI_JOIN_RESUME),
    "eval_pr_report": Q(_q_eval_pr_report, _SQL_EVAL_PR_REPORT),
    "confusion_matrix": Q(_q_confusion_matrix, _SQL_CONFUSION_MATRIX),
    "iob_spans": Q(_q_iob_spans, _SQL_IOB_SPANS),
    "ner_errors": Q(_q_ner_errors, _SQL_NER_ERRORS),
    "tfidf_search": Q(_q_tfidf_search, _SQL_TFIDF_SEARCH),
    "bm25_search": Q(_q_bm25_search, _bm25_oracle_sql()),
    "inverted_index": Q(_q_inverted_index, _SQL_INVERTED_INDEX),
    "sketch_distinct": Q(_q_sketch_distinct, _sketch_distinct_oracle()),
    "sketch_overlap": Q(_q_sketch_overlap, _sketch_overlap_oracle()),
    "sketch_containment": Q(
        _q_sketch_containment, _sketch_containment_oracle()
    ),
    "zorder_layout": Q(_q_zorder_layout, _zorder_oracle_sql()),
    "cms_term_counts": Q(_q_cms_term_counts, _cms_oracle()),
    "join_size_estimate": Q(_q_join_size_estimate, _join_size_oracle()),
    "bloom_semi_join": Q(_q_bloom_semi_join, _SQL_BLOOM_SEMI_JOIN),
    "hybrid_search_rrf": Q(_q_hybrid_search_rrf, _hybrid_rrf_oracle_sql()),
    "tpch_shipping_priority": Q(
        _q_tpch_shipping_priority, _SQL_TPCH_SHIPPING_PRIORITY
    ),
    "tpch_local_supplier_volume": Q(
        _q_tpch_local_supplier_volume, _SQL_TPCH_LOCAL_SUPPLIER_VOLUME
    ),
    "window_rank_topk": Q(_q_window_rank_topk, _SQL_WINDOW_RANK_TOPK),
    "set_ops_docs": Q(_q_set_ops_docs, _SQL_SET_OPS_DOCS),
    "skew_salted_agg": Q(_q_skew_salted_agg, _SQL_SKEW_SALTED_AGG),
    "streaming_window_counts": Q(
        _q_streaming_window_counts, _SQL_STREAMING_WINDOW_COUNTS
    ),
    "search_deprioritized": Q(
        _q_search_deprioritized, _SQL_SEARCH_DEPRIORITIZED
    ),
    "bad_sentence_stats": Q(_q_bad_sentence_stats, _SQL_BAD_SENTENCE_STATS),
    "ivf_centroids": Q(_q_ivf_centroids, _SQL_IVF_CENTROIDS),
    "ivf_search": Q(_q_ivf_search, _SQL_IVF_SEARCH),
    "pq_codes": Q(_q_pq_codes, _SQL_PQ_CODES),
    "pq_adc_search": Q(_q_pq_adc_search, _SQL_PQ_ADC_SEARCH),
    "ivfpq_search": Q(_q_ivfpq_search, _SQL_IVFPQ_SEARCH),
    "ann_recall": Q(_q_ann_recall, _SQL_ANN_RECALL),
    "doc_chunks": Q(_q_doc_chunks, _SQL_DOC_CHUNKS),
    "hard_negatives": Q(_q_hard_negatives, _SQL_HARD_NEGATIVES),
    "ivf_search_nprobe": Q(
        _q_ivf_search_nprobe, _ivf_search_nprobe_sql(2)
    ),
    "articles_semi_filter": Q(
        _q_articles_semi_filter, _SQL_ARTICLES_SEMI_FILTER
    ),
    "measurement_vote": Q(_q_measurement_vote, _SQL_MEASUREMENT_VOTE),
    "topic_rules": Q(_q_topic_rules, _SQL_TOPIC_RULES),
    "iob_punct_carry": Q(_q_iob_punct_carry, _SQL_IOB_PUNCT_CARRY),
    "iob_token_counts": Q(_q_iob_token_counts, _SQL_IOB_TOKEN_COUNTS),
    "dedup_incremental": Q(_q_dedup_incremental, _SQL_DEDUP_INCREMENTAL),
    "dedup_clusters": Q(_q_dedup_clusters, _SQL_DEDUP_CLUSTERS),
    "url_dedup": Q(_q_url_dedup, _SQL_URL_DEDUP),
    "latest_capture": Q(_q_latest_capture, _SQL_LATEST_CAPTURE),
    "token_count_bpe": Q(_q_token_count_bpe, _SQL_TOKEN_COUNT_BPE),
    "fingerprint_winnow": Q(_q_fingerprint_winnow, _SQL_FINGERPRINT_WINNOW),
    "redact_pii": Q(_q_redact_pii, _SQL_REDACT_PII),
    "repetition_stats": Q(_q_repetition_stats, _SQL_REPETITION_STATS),
    "quality_gate": Q(_q_quality_gate, _SQL_QUALITY_GATE),
    "search_hydrated": Q(_q_search_hydrated, _SQL_SEARCH_HYDRATED),
    "split_train_holdout": Q(
        _q_split_train_holdout, _SQL_SPLIT_TRAIN_HOLDOUT
    ),
    "stratified_sample": Q(_q_stratified_sample, _SQL_STRATIFIED_SAMPLE),
}


BPE_N_DOCS = 60
BPE_SEED = 11
BPE_N_MERGES = 8
BPE_TOP_K = 20


def _bpe_word_table(spark):
    """Word-count table over the extracted English text of the
    deterministic BPE corpus (vocabulary-sized after one map-side-combined
    aggregate; every later BPE pass runs over this, never the corpus)."""
    from search_spark import datagen
    from search_spark.extraction.extract import extract_stage

    pages = datagen.generate_web_pages(spark, BPE_N_DOCS, seed=BPE_SEED)
    paras = extract_stage(pages, english_only=True)
    words = (
        paras.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # the learner re-scans this table once per merge: materialize the
    # vocabulary-sized result so the extract UDF runs exactly once
    return words.localCheckpoint(eager=True)


def _q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (operators/bpe.py): k iterations
    of corpus-wide pair counting + greedy merge, each iteration one
    partial-aggregated explode with a 1-row argmax collect; the merge is a
    zero-UDF regexp expression. Corpus is deterministic (seed), so the
    oracle re-derives the merges with the single-machine reference
    algorithm."""
    from search_spark.operators.bpe import learn_bpe

    words = _bpe_word_table(spark)
    merges = learn_bpe(words, BPE_N_MERGES)
    return spark.createDataFrame(
        merges, ["merge_rank", "lhs", "rhs", "pair_count"]
    ).select(
        F.col("merge_rank").cast("long"),
        "lhs",
        "rhs",
        F.col("pair_count").cast("long"),
    )


def _q_bpe_segments(spark, sf_dir):
    """Apply the learned merges to the corpus vocabulary (one k-deep
    codegen projection — segment_expr) and report the top-20 subwords by
    weighted occurrences: the sanity report a tokenizer-training job
    emits."""
    from search_spark.operators.bpe import learn_bpe, segment_expr

    words = _bpe_word_table(spark)
    merges = [
        (l, r) for _, l, r, _ in learn_bpe(words, BPE_N_MERGES)
    ]
    return (
        words.select(
            "n", F.explode(segment_expr(F.col("word"), merges)).alias("subword")
        )
        .groupBy("subword")
        .agg(F.sum("n").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "subword")
        .limit(BPE_TOP_K)
    )


def _q_boilerplate_strip(spark, sf_dir):
    """Statistical boilerplate removal (operators/boilerplate.py): fixture
    pages → real HTML extraction → per-host paragraph-frequency flagging →
    clean-text reassembly. The oracle re-derives the whole frequency pass
    in DuckDB from the extraction-stage ground truth, so this checks both
    the extraction bytes and the threshold logic."""
    from search_spark import oracles
    from search_spark.extraction.extract import extract_stage
    from search_spark.operators.boilerplate import clean_pages

    pages = spark.createDataFrame(
        oracles.boilerplate_pages(),
        schema="url string, html binary, lang string",
    )
    paras = extract_stage(pages, english_only=False)
    return clean_pages(
        paras, ratio=oracles.BOILER_RATIO, min_df=oracles.BOILER_MIN_DF
    )


def _q_anchor_aliases(spark, sf_dir):
    """Anchor-text alias table (operators/linkgraph.py): raw html → JVM
    regex anchor extraction → href absolutization → normalized surface-form
    aggregation with a distinct-linking-host trust count."""
    from search_spark import oracles
    from search_spark.operators.linkgraph import anchor_alias_table

    pages = spark.createDataFrame(
        oracles.anchor_pages(), schema="url string, html binary"
    )
    return anchor_alias_table(pages)


def _q_anchor_prior_link(spark, sf_dir):
    """Commonness entity linking (operators/linkgraph.py): mention surface
    forms left-linked to the anchor-prior dictionary built from raw html —
    portable two-step argmax, exact-integer prior (no float rounding)."""
    from search_spark import oracles
    from search_spark.operators.linkgraph import link_by_anchor_prior

    pages = spark.createDataFrame(
        oracles.anchor_pages(), schema="url string, html binary"
    )
    mentions = spark.createDataFrame(
        oracles.anchor_mentions(), schema="mention_id int, mention string"
    )
    return link_by_anchor_prior(mentions, pages).select(
        "mention_id",
        "mention",
        "surface",
        "dst",
        "n_links",
        "n_total",
        "prior_ppm",
    )


def _q_webtable_cells(spark, sf_dir):
    """Web-table parse stage (operators/webtables.py): ``<table>`` elements
    → one row per cell, headers flagged — the WebTables-style structured
    source the reference's curated-format pipeline never needed."""
    from search_spark import oracles
    from search_spark.operators.webtables import table_cells

    pages = spark.createDataFrame(
        oracles.webtable_pages(), schema="url string, html binary"
    )
    return table_cells(pages)


def _q_webtable_triples(spark, sf_dir):
    """Header-keyed triple-ification of web tables: subjects from body
    column 0, predicates from the row-0 header, one triple per non-empty
    body cell; headerless tables yield cells but no triples."""
    from search_spark import oracles
    from search_spark.operators.webtables import webtable_triples

    pages = spark.createDataFrame(
        oracles.webtable_pages(), schema="url string, html binary"
    )
    return webtable_triples(pages)


def _q_jsonld_triples(spark, sf_dir):
    """schema.org JSON-LD blocks → triples, all JVM codegen (regex block
    scan + from_json map parse + subject cascade); malformed blocks are
    filtered, nested values surface as canonical JSON strings."""
    from search_spark import oracles
    from search_spark.operators.jsonld import jsonld_triples

    pages = spark.createDataFrame(
        oracles.jsonld_pages(), schema="url string, html binary"
    )
    return jsonld_triples(pages)


def _q_microdata_triples(spark, sf_dir):
    """schema.org microdata (itemscope/itemprop) → triples, all JVM
    codegen: lookahead split at itemscope openings (preamble filtered
    array-side, so posexplode's pos IS the item index — no window, no
    shuffle), attribute regexes for itemtype/itemid/itemprop, the HTML
    value rules (content > href > src > inner text), nested-linkage tags
    dropped rather than misattributed."""
    from search_spark import oracles
    from search_spark.operators.microdata import microdata_triples

    pages = spark.createDataFrame(
        oracles.microdata_pages(), schema="url string, html binary"
    )
    return microdata_triples(pages)


def _q_meta_og_triples(spark, sf_dir):
    """Open Graph / <meta> tag extraction (operators/metatags.py): the
    page itself is the subject, so every tag is one (url, property,
    content) triple — one regexp_extract_all + explode, predicate
    resolution property > name, empty pred/content dropped. Pure
    codegen, no shuffle."""
    from search_spark import oracles
    from search_spark.operators.metatags import meta_triples

    pages = spark.createDataFrame(
        oracles.meta_pages(), schema="url string, html binary"
    )
    return meta_triples(pages)


def _q_feed_items(spark, sf_dir):
    """RSS 2.0 / Atom feed-item extraction (operators/feeds.py): dotall
    block regexes pull <item>/<entry> bodies, field regexes resolve
    title/link/id with the guid>id>link cascade, and dates parse
    ANSI-safe via try_to_timestamp (RFC-822 weekday/zone stripped —
    Spark's post-3.0 parser rejects EEE). Pure scan-stage codegen; the
    frontier shape unions with sitemap_frontier."""
    from search_spark import oracles
    from search_spark.operators.feeds import feed_items

    pages = spark.createDataFrame(
        oracles.feed_pages(), schema="url string, html binary"
    )
    return feed_items(pages)


def _q_kg_fused_triples(spark, sf_dir):
    """Knowledge fusion (operators/fusion.py): the web-table and JSON-LD
    extractors run over the same pages (same entities, conflicting color
    on every 3rd page); evidence is unioned, scored by cross-source
    agreement and resolved per (subj, pred) with the exact-integer rank —
    more sources > more provenance > extractor priority > lexicographic."""
    from search_spark import oracles
    from search_spark.operators.fusion import fuse_and_resolve
    from search_spark.operators.jsonld import jsonld_triples
    from search_spark.operators.webtables import webtable_triples

    pages = spark.createDataFrame(
        oracles.fusion_pages(), schema="url string, html binary"
    )
    wt = webtable_triples(pages).select("subj", "pred", "obj")
    jl = jsonld_triples(pages).select("subj", "pred", "obj")
    return fuse_and_resolve([("webtable", wt), ("jsonld", jl)])


def _q_canonical_links(spark, sf_dir):
    """rel=canonical extraction (operators/linkgraph.py): pure-codegen
    regex scan, root-relative absolutization, self-link filter — the
    site-declared dedup key Common-Crawl dedup applies before hashing."""
    from search_spark import oracles
    from search_spark.operators.linkgraph import canonical_links

    pages = spark.createDataFrame(
        oracles.canonical_pages(), schema="url string, html binary"
    )
    return canonical_links(pages)


def _q_canonical_resolution(spark, sf_dir):
    """Canonical-chain resolution by pointer doubling (ptr ← ptr∘ptr,
    log₂ rounds of one equi-join each); the oracle re-derives terminal
    targets with a recursive CTE — spec-level, not a trace of the
    doubling."""
    from search_spark import oracles
    from search_spark.operators.linkgraph import (
        canonical_links,
        resolve_canonical_chains,
    )

    pages = spark.createDataFrame(
        oracles.canonical_pages(), schema="url string, html binary"
    )
    return resolve_canonical_chains(canonical_links(pages))


def _q_hreflang_clusters(spark, sf_dir):
    """Translation-set clustering (operators/linkgraph.py): hreflang
    alternate declarations (full cliques, hub-and-spoke, one-directional
    chains in the fixture) → undirected CC via the canonicalizer's
    large-star/small-star machinery; group id = min url. The oracle is a
    recursive-CTE CC over the ground-truth declaration edges."""
    from search_spark import oracles
    from search_spark.operators.linkgraph import hreflang_groups

    pages = spark.createDataFrame(
        oracles.hreflang_pages(), schema="url string, html binary"
    )
    return hreflang_groups(pages)


def _q_schema_induction(spark, sf_dir):
    """Predicate datatype induction (operators/schema_induction.py) over
    the union of the two structured extractors' triples — per-predicate
    majority lexical shape with exact-ppm agreement."""
    from search_spark import oracles
    from search_spark.operators.jsonld import jsonld_triples
    from search_spark.operators.schema_induction import (
        induce_predicate_types,
    )
    from search_spark.operators.webtables import webtable_triples

    wt = webtable_triples(
        spark.createDataFrame(
            oracles.webtable_pages(), schema="url string, html binary"
        )
    )
    jl = jsonld_triples(
        spark.createDataFrame(
            oracles.jsonld_pages(), schema="url string, html binary"
        )
    )
    both = wt.select("pred", "obj").unionByName(jl.select("pred", "obj"))
    return induce_predicate_types(both)


def _schema_induction_oracle_sql() -> str:
    from search_spark import oracles

    return f"""
WITH wt AS ({oracles.webtable_triples_oracle_sql()}),
jl AS ({oracles.jsonld_oracle_sql()}),
t AS (SELECT pred, obj FROM wt UNION ALL SELECT pred, obj FROM jl),
typed AS (
  SELECT pred,
         CASE
           WHEN regexp_matches(obj, '^-?\\d+$') THEN 'integer'
           WHEN regexp_matches(obj, '^-?\\d+\\.\\d+$') THEN 'decimal'
           WHEN regexp_matches(obj, '^\\d{{4}}-\\d{{2}}-\\d{{2}}$')
             THEN 'date'
           WHEN regexp_matches(obj, '^https?://') THEN 'url'
           ELSE 'text'
         END AS vtype
  FROM t
),
counts AS (SELECT pred, vtype, count(*) AS n FROM typed
           GROUP BY pred, vtype),
totals AS (SELECT pred, sum(n) AS n_values FROM counts GROUP BY pred),
best AS (
  SELECT c.pred, c.n, min(c.vtype) AS inferred_type
  FROM counts c
  JOIN (SELECT pred, max(n) AS n FROM counts GROUP BY pred) mx
    ON c.pred = mx.pred AND c.n = mx.n
  GROUP BY c.pred, c.n
)
SELECT b.pred, b.inferred_type,
       CAST(b.n AS BIGINT) AS n_majority,
       CAST(t2.n_values AS BIGINT) AS n_values,
       CAST(b.n * 1000000 // t2.n_values AS BIGINT) AS agreement_ppm
FROM best b JOIN totals t2 ON b.pred = t2.pred
"""


def _register_python_derived_oracles() -> None:
    """Attach the pure-Python-derived VALUES oracles (oracles.py) for the
    pipeline/UDF-stage queries. Built lazily-at-import so the (tiny)
    ground-truth derivation cost is paid once."""
    from search_spark import oracles

    QUERIES["kg_triples_webpages"] = Q(
        _q_kg_triples_webpages, oracles.kg_triples_oracle_sql(80, 42)
    )
    QUERIES["multimodal_features"] = Q(
        _q_multimodal_features, oracles.multimodal_oracle_sql()
    )
    QUERIES["multiformat_extract"] = Q(
        _q_multiformat_extract,
        oracles.multiformat_oracle_sql(MULTIFORMAT_N_DOCS),
    )
    QUERIES["pubmed_topic_extract"] = Q(
        _q_pubmed_topic_extract,
        oracles.pubmed_topics_oracle_sql(PUBMED_TOPICS_N),
    )
    QUERIES["topic_rules_extracted"] = Q(
        _q_topic_rules_extracted,
        oracles.topic_rules_extracted_oracle_sql(PUBMED_TOPICS_N),
    )
    QUERIES["prodigy_annotations"] = Q(
        _q_prodigy_annotations, oracles.prodigy_oracle_sql(PRODIGY_N)
    )
    QUERIES["mesh_tree_numbers"] = Q(
        _q_mesh_tree_numbers, oracles.mesh_tree_oracle_sql()
    )
    QUERIES["mesh_resolved_topics"] = Q(
        _q_mesh_resolved_topics, oracles.mesh_resolved_oracle_sql()
    )
    QUERIES["warc_ingest"] = Q(
        _q_warc_ingest,
        oracles.warc_ingest_oracle_sql(WARC_INGEST_N, WARC_INGEST_SEED),
    )
    QUERIES["warc_cdx_lookup"] = Q(
        _q_warc_cdx_lookup,
        oracles.warc_cdx_lookup_oracle_sql(
            WARC_INGEST_N, WARC_INGEST_SEED, WARC_CDX_MOD
        ),
    )
    QUERIES["boilerplate_strip"] = Q(
        _q_boilerplate_strip, oracles.boilerplate_oracle_sql()
    )
    QUERIES["anchor_aliases"] = Q(
        _q_anchor_aliases, oracles.anchor_aliases_oracle_sql()
    )
    QUERIES["anchor_prior_link"] = Q(
        _q_anchor_prior_link, oracles.anchor_prior_link_oracle_sql()
    )
    QUERIES["webtable_cells"] = Q(
        _q_webtable_cells, oracles.webtable_cells_oracle_sql()
    )
    QUERIES["webtable_triples"] = Q(
        _q_webtable_triples, oracles.webtable_triples_oracle_sql()
    )
    QUERIES["jsonld_triples"] = Q(
        _q_jsonld_triples, oracles.jsonld_oracle_sql()
    )
    QUERIES["microdata_triples"] = Q(
        _q_microdata_triples, oracles.microdata_oracle_sql()
    )
    QUERIES["meta_og_triples"] = Q(
        _q_meta_og_triples, oracles.meta_oracle_sql()
    )
    QUERIES["feed_items"] = Q(_q_feed_items, oracles.feeds_oracle_sql())
    QUERIES["kg_fused_triples"] = Q(
        _q_kg_fused_triples, oracles.fusion_oracle_sql()
    )
    QUERIES["canonical_links"] = Q(
        _q_canonical_links, oracles.canonical_links_oracle_sql()
    )
    QUERIES["canonical_resolution"] = Q(
        _q_canonical_resolution, oracles.canonical_resolution_oracle_sql()
    )
    QUERIES["hreflang_clusters"] = Q(
        _q_hreflang_clusters, oracles.hreflang_clusters_oracle_sql()
    )
    QUERIES["schema_induction"] = Q(
        _q_schema_induction, _schema_induction_oracle_sql()
    )
    QUERIES["bpe_merges"] = Q(
        _q_bpe_merges,
        oracles.bpe_merges_oracle_sql(BPE_N_DOCS, BPE_SEED, BPE_N_MERGES),
    )
    QUERIES["bpe_segments"] = Q(
        _q_bpe_segments,
        oracles.bpe_segments_oracle_sql(
            BPE_N_DOCS, BPE_SEED, BPE_N_MERGES, BPE_TOP_K
        ),
    )


_register_python_derived_oracles()


# -- crawl scheduling, coreference, KG-embedding scoring (round 3) -----------

def _q_sitemap_frontier(spark, sf_dir):
    """Crawl frontier (operators/crawl.py): sitemap XML parse (JVM regex)
    → per-url latest-capture aggregate → left join → new/stale dispatch.
    The ingest-side complement of latest_capture/dedup_incremental."""
    from search_spark import oracles
    from search_spark.operators.crawl import sitemap_frontier

    sitemaps = spark.createDataFrame(
        oracles.sitemap_fixture_pages(), schema="url string, html binary"
    )
    crawled = spark.createDataFrame(
        oracles.sitemap_crawled_rows(), schema="url string, warc_ts string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    return sitemap_frontier(sitemaps, crawled)


def _q_robots_filter(spark, sf_dir):
    """Robots-exclusion filter (operators/crawl.py): per-host rule arrays
    (broadcast) → codegen longest-prefix-match aggregate over candidates.
    Allow overrides Disallow on equal length; ruleless hosts pass."""
    from search_spark import oracles
    from search_spark.operators.crawl import robots_allowed

    robots = spark.createDataFrame(
        oracles.robots_fixture_pages(), schema="url string, html binary"
    )
    cand = spark.createDataFrame(
        oracles.robots_candidate_rows(), schema="url string"
    )
    return robots_allowed(cand, robots)


def _q_coref_pronouns(spark, sf_dir):
    """Recency coreference (operators/coref.py): pronoun tokens resolve to
    the nearest preceding number-agreeing mention via one IGNORE NULLS
    window over the doc token stream — mention-recall recovery the
    reference's NER-only pipeline drops (mining/pipeline.py)."""
    from search_spark import oracles
    from search_spark.operators.coref import resolve_pronouns

    sents, ments = oracles.coref_fixture()
    sentences = spark.createDataFrame(
        sents, schema="doc_id int, sent_pos int, text string"
    )
    mentions = spark.createDataFrame(
        ments,
        schema="doc_id int, sent_pos int, tok_pos int, entity string,"
        " is_plural boolean",
    )
    return resolve_pronouns(sentences, mentions)


def _q_kg_transe_rank(spark, sf_dir):
    """TransE link-prediction ranking (operators/kge.py) over the distinct
    relation triples: deterministic md5-digit embeddings, codegen L1
    energy, broadcast candidate corruption, one hash agg per triple."""
    from search_spark.operators.kge import rank_tails

    pos = _doc_relations(spark, sf_dir).select(
        "subj", "pred", "obj"
    ).distinct()
    cand = pos.select(F.col("obj").alias("entity")).distinct()
    return rank_tails(pos, cand)


_TRANSE_DIGIT = (
    "(strpos('0123456789abcdef', substr(md5({x}), CAST(i AS INT), 1)) - 1)"
)


def _transe_energy_sql(x: str, y: str, z: str) -> str:
    dx = _TRANSE_DIGIT.format(x=x)
    dy = _TRANSE_DIGIT.format(x=y)
    dz = _TRANSE_DIGIT.format(x=z)
    return (
        "list_aggregate(list_transform(range(1, 17), i -> "
        f"abs({dx} + {dy} - {dz})), 'sum')"
    )


_SQL_KG_TRANSE_RANK = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
pos AS (SELECT DISTINCT subj, pred, obj FROM relations),
cand AS (SELECT DISTINCT obj AS cand FROM relations),
scored AS (SELECT subj, pred, obj,
                  {_transe_energy_sql('subj', 'pred', 'obj')} AS energy
           FROM pos),
x AS (SELECT s.subj, s.pred, s.obj, s.energy, c.cand,
             {_transe_energy_sql('s.subj', 's.pred', 'c.cand')} AS c_energy
      FROM scored s JOIN cand c ON c.cand <> s.obj)
SELECT subj, pred, obj, CAST(energy AS INT) AS energy,
       CAST(1 + sum(CASE WHEN c_energy < energy
                         OR (c_energy = energy AND cand < obj)
                    THEN 1 ELSE 0 END) AS INT) AS rank,
       CAST(count(*) AS INT) AS n_candidates
FROM x GROUP BY subj, pred, obj, energy
"""


def _q_kg_distmult_rank(spark, sf_dir):
    """DistMult link-prediction ranking — the second implementation of the
    kge model hook (operators/kge.py MODELS): bilinear Σ h·r·t score
    (higher-is-better) through the same broadcast-corruption + hash-agg
    ranking machinery as TransE, proving the hook is model-agnostic."""
    from search_spark.operators.kge import rank_tails

    pos = _doc_relations(spark, sf_dir).select(
        "subj", "pred", "obj"
    ).distinct()
    cand = pos.select(F.col("obj").alias("entity")).distinct()
    return rank_tails(pos, cand, model="distmult")


def _distmult_score_sql(x: str, y: str, z: str) -> str:
    dx = _TRANSE_DIGIT.format(x=x)
    dy = _TRANSE_DIGIT.format(x=y)
    dz = _TRANSE_DIGIT.format(x=z)
    return (
        "list_aggregate(list_transform(range(1, 17), i -> "
        f"{dx} * {dy} * {dz}), 'sum')"
    )


_SQL_KG_DISTMULT_RANK = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
pos AS (SELECT DISTINCT subj, pred, obj FROM relations),
cand AS (SELECT DISTINCT obj AS cand FROM relations),
scored AS (SELECT subj, pred, obj,
                  {_distmult_score_sql('subj', 'pred', 'obj')} AS energy
           FROM pos),
x AS (SELECT s.subj, s.pred, s.obj, s.energy, c.cand,
             {_distmult_score_sql('s.subj', 's.pred', 'c.cand')} AS c_energy
      FROM scored s JOIN cand c ON c.cand <> s.obj)
SELECT subj, pred, obj, CAST(energy AS INT) AS energy,
       CAST(1 + sum(CASE WHEN c_energy > energy
                         OR (c_energy = energy AND cand < obj)
                    THEN 1 ELSE 0 END) AS INT) AS rank,
       CAST(count(*) AS INT) AS n_candidates
FROM x GROUP BY subj, pred, obj, energy
"""


def _q_kg_complex_rank(spark, sf_dir):
    """ComplEx link-prediction ranking — third implementation of the kge
    model hook (packed re‖im md5-digit embeddings, Re(h∘r·conj(t))
    score, higher-is-better) through the unchanged broadcast-corruption
    ranking machinery."""
    from search_spark.operators.kge import rank_tails

    pos = _doc_relations(spark, sf_dir).select(
        "subj", "pred", "obj"
    ).distinct()
    cand = pos.select(F.col("obj").alias("entity")).distinct()
    return rank_tails(pos, cand, model="complex")


def _complex_digit(x: str, pos: str) -> str:
    return (
        "(strpos('0123456789abcdef', "
        f"substr(md5({x}), CAST({pos} AS INT), 1)) - 1)"
    )


def _complex_score_sql(x: str, y: str, z: str) -> str:
    rh, ih = _complex_digit(x, "i"), _complex_digit(x, "i + 16")
    rr, ir = _complex_digit(y, "i"), _complex_digit(y, "i + 16")
    rt, it = _complex_digit(z, "i"), _complex_digit(z, "i + 16")
    return (
        "list_aggregate(list_transform(range(1, 17), i -> "
        f"({rh} * {rr} - {ih} * {ir}) * {rt} + "
        f"({rh} * {ir} + {ih} * {rr}) * {it}), 'sum')"
    )


_SQL_KG_COMPLEX_RANK = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
pos AS (SELECT DISTINCT subj, pred, obj FROM relations),
cand AS (SELECT DISTINCT obj AS cand FROM relations),
scored AS (SELECT subj, pred, obj,
                  {_complex_score_sql('subj', 'pred', 'obj')} AS energy
           FROM pos),
x AS (SELECT s.subj, s.pred, s.obj, s.energy, c.cand,
             {_complex_score_sql('s.subj', 's.pred', 'c.cand')} AS c_energy
      FROM scored s JOIN cand c ON c.cand <> s.obj)
SELECT subj, pred, obj, CAST(energy AS INT) AS energy,
       CAST(1 + sum(CASE WHEN c_energy > energy
                         OR (c_energy = energy AND cand < obj)
                    THEN 1 ELSE 0 END) AS INT) AS rank,
       CAST(count(*) AS INT) AS n_candidates
FROM x GROUP BY subj, pred, obj, energy
"""


def _q_kg_kge_eval(spark, sf_dir):
    """Link-prediction evaluation metrics (MRR, Hits@1/3/10, mean rank)
    over the TransE filtered ranking — ranking_metrics is one tiny
    global hash aggregate on top of the rank_tails plan, so the whole
    query stays broadcast-corruption + two hash aggregates."""
    from search_spark.operators.kge import rank_tails, ranking_metrics

    pos = _doc_relations(spark, sf_dir).select(
        "subj", "pred", "obj"
    ).distinct()
    cand = pos.select(F.col("obj").alias("entity")).distinct()
    return ranking_metrics(rank_tails(pos, cand))


_SQL_KG_KGE_EVAL = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
pos AS (SELECT DISTINCT subj, pred, obj FROM relations),
cand AS (SELECT DISTINCT obj AS cand FROM relations),
scored AS (SELECT subj, pred, obj,
                  {_transe_energy_sql('subj', 'pred', 'obj')} AS energy
           FROM pos),
x AS (SELECT s.subj, s.pred, s.obj, s.energy, c.cand,
             {_transe_energy_sql('s.subj', 's.pred', 'c.cand')} AS c_energy
      FROM scored s JOIN cand c ON c.cand <> s.obj),
ranked AS (
  SELECT subj, pred, obj,
         1 + sum(CASE WHEN c_energy < energy
                      OR (c_energy = energy AND cand < obj)
                 THEN 1 ELSE 0 END) AS rank
  FROM x GROUP BY subj, pred, obj, energy)
SELECT ROUND(AVG(CAST(1 AS DOUBLE) / rank), 6) AS mrr,
       ROUND(AVG(CAST(rank <= 1 AS INT)), 6) AS hits_at_1,
       ROUND(AVG(CAST(rank <= 3 AS INT)), 6) AS hits_at_3,
       ROUND(AVG(CAST(rank <= 10 AS INT)), 6) AS hits_at_10,
       ROUND(AVG(CAST(rank AS DOUBLE)), 6) AS mean_rank,
       COUNT(*) AS n_triples
FROM ranked
"""


def _register_crawl_coref_kge() -> None:
    from search_spark import oracles

    QUERIES["sitemap_frontier"] = Q(
        _q_sitemap_frontier, oracles.sitemap_frontier_oracle_sql()
    )
    QUERIES["robots_filter"] = Q(
        _q_robots_filter, oracles.robots_allowed_oracle_sql()
    )
    QUERIES["coref_pronouns"] = Q(
        _q_coref_pronouns, oracles.coref_oracle_sql()
    )
    QUERIES["kg_transe_rank"] = Q(_q_kg_transe_rank, _SQL_KG_TRANSE_RANK)
    QUERIES["kg_distmult_rank"] = Q(
        _q_kg_distmult_rank, _SQL_KG_DISTMULT_RANK
    )
    QUERIES["kg_complex_rank"] = Q(
        _q_kg_complex_rank, _SQL_KG_COMPLEX_RANK
    )
    QUERIES["kg_kge_eval"] = Q(_q_kg_kge_eval, _SQL_KG_KGE_EVAL)


_register_crawl_coref_kge()


# -- blocking, crawl scheduling, KG summarization (round 3, batch 2) ---------

def _q_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood ER blocking (operators/blocking.py): scalable
    two-pass global rank (range partition + local row_number + broadcast
    offsets), then offset-explode equi-join — never a single-partition
    window, never an inequality self-join."""
    from search_spark.operators.blocking import sorted_neighborhood_pairs

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, 16).alias("block_key")
    )
    return sorted_neighborhood_pairs(docs, "doc_id", "block_key", window=3)


_SQL_SORTED_NEIGHBORHOOD = """
WITH r AS (SELECT doc_id, substr(text, 1, 16) AS k,
                  row_number() OVER (ORDER BY substr(text, 1, 16), doc_id)
                    AS rank
           FROM documents)
SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.k AS a_key, b.k AS b_key,
       CAST(b.rank - a.rank AS INT) AS rank_gap
FROM r a JOIN r b ON b.rank - a.rank IN (1, 2)
"""


def _q_crawl_schedule(spark, sf_dir):
    """Politeness scheduling (operators/crawl.py) over the sitemap
    frontier: per-host serial slots (priority order), capped per host,
    fetch offsets spaced by the crawl delay."""
    from search_spark import oracles
    from search_spark.operators.crawl import (
        politeness_schedule,
        sitemap_frontier,
    )

    sitemaps = spark.createDataFrame(
        oracles.sitemap_fixture_pages(), schema="url string, html binary"
    )
    crawled = spark.createDataFrame(
        oracles.sitemap_crawled_rows(), schema="url string, warc_ts string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    return politeness_schedule(
        sitemap_frontier(sitemaps, crawled),
        crawl_delay_s=0.5,
        max_per_host=5,
    )


def _crawl_schedule_oracle_sql() -> str:
    from search_spark import oracles

    frontier = oracles.sitemap_frontier_oracle_sql()
    return f"""
WITH f AS ({frontier}),
s AS (SELECT loc, regexp_extract(loc, '^[a-z]+://([^/]+)', 1) AS host,
             CAST(row_number() OVER (
               PARTITION BY regexp_extract(loc, '^[a-z]+://([^/]+)', 1)
               ORDER BY priority DESC, loc ASC) - 1 AS INT) AS slot
      FROM f)
SELECT loc, host, slot, CAST(slot * 0.5 AS DOUBLE) AS fetch_offset_s
FROM s WHERE slot < 5
"""


def _q_kg_entity_summary(spark, sf_dir):
    """Entity summarization: per subject, the top-3 facts ranked by
    predicate informativeness (rarest predicate first — the integer-exact
    equivalent of IDF ordering), ties on pred/obj. Fact table and pred
    stats are both one hash agg; the per-entity top-k is a bounded window
    (entity-grained partitioning, k rows out per entity)."""
    rel = (
        _doc_relations(spark, sf_dir).select("subj", "pred", "obj")
        .distinct()
    )
    from pyspark.sql import Window

    # pred stats are predicate-vocabulary sized; unhinted — AQE broadcasts
    stats = rel.groupBy("pred").agg(F.count("*").alias("pred_count"))
    w = Window.partitionBy("subj").orderBy(
        F.asc("pred_count"), F.asc("pred"), F.asc("obj")
    )
    return (
        rel.join(stats, "pred")
        .withColumn("fact_rank", F.row_number().over(w))
        .filter(F.col("fact_rank") <= 3)
        .select("subj", "pred", "obj", "pred_count", "fact_rank")
    )


_SQL_KG_ENTITY_SUMMARY = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
pos AS (SELECT DISTINCT subj, pred, obj FROM relations),
stats AS (SELECT pred, CAST(count(*) AS BIGINT) AS pred_count
          FROM pos GROUP BY pred),
ranked AS (
  SELECT p.subj, p.pred, p.obj, s.pred_count,
         CAST(row_number() OVER (
           PARTITION BY p.subj
           ORDER BY s.pred_count ASC, p.pred ASC, p.obj ASC) AS INT)
           AS fact_rank
  FROM pos p JOIN stats s USING (pred))
SELECT subj, pred, obj, pred_count, fact_rank
FROM ranked WHERE fact_rank <= 3
"""


def _q_kg_bgp_aggregate(spark, sf_dir):
    """SPARQL aggregate shape: GROUP BY over BGP bindings (SELECT ?t
    (COUNT(DISTINCT ?m) ...) WHERE { ?m has_type ?t }) — the bindings come
    from the real match_bgp evaluator, the aggregate is a plain hash agg
    on top (exactly how a SPARQL engine lowers it)."""
    from search_spark.operators.bgp import match_bgp

    triples = _q_kg_doc_triples(spark, sf_dir)
    bindings = match_bgp(triples, [("?m", "has_type", "?t")])
    return bindings.groupBy(F.col("t").alias("entity_type")).agg(
        F.countDistinct("m").alias("n_entities")
    )


_SQL_KG_BGP_AGGREGATE = f"""
{_MENTIONS_SQL}
SELECT entity_type, CAST(COUNT(DISTINCT mention) AS BIGINT) AS n_entities
FROM mentions GROUP BY entity_type
"""


def _q_kg_components_incremental(spark, sf_dir):
    """Warm-start connected components: CC of the even-doc edge batch
    first, then the odd-doc delta edges union the prior (entity →
    component) assignment edges — the incremental maintenance shape (old
    assignment rows stand in for the already-contracted subgraph, so the
    second run's input is |delta| + |nodes|, not |all edges|). Final
    labels provably equal the full-graph CC (each assignment edge stays
    inside its true component)."""
    from search_spark.operators.canonicalize import connected_components

    e0 = _kg_edge_instances(spark, sf_dir, parity=0).localCheckpoint(
        eager=True
    )
    cc0 = connected_components(e0).select(
        F.col("id").alias("src"), F.col("component").alias("dst")
    )
    e1 = _kg_edge_instances(spark, sf_dir, parity=1)
    combined = cc0.unionByName(e1.select("src", "dst")).localCheckpoint(
        eager=True
    )
    return connected_components(combined).select(
        F.col("id").alias("entity"), "component"
    )


# oracle: full-graph CC over all edges — the equivalence the query claims
_SQL_KG_COMPONENTS_INCREMENTAL = _SQL_KG_COMPONENTS


def _register_round3_batch2() -> None:
    QUERIES["sorted_neighborhood"] = Q(
        _q_sorted_neighborhood, _SQL_SORTED_NEIGHBORHOOD
    )
    QUERIES["crawl_schedule"] = Q(
        _q_crawl_schedule, _crawl_schedule_oracle_sql()
    )
    QUERIES["kg_entity_summary"] = Q(
        _q_kg_entity_summary, _SQL_KG_ENTITY_SUMMARY
    )
    QUERIES["kg_bgp_aggregate"] = Q(
        _q_kg_bgp_aggregate, _SQL_KG_BGP_AGGREGATE
    )
    QUERIES["kg_components_incremental"] = Q(
        _q_kg_components_incremental, _SQL_KG_COMPONENTS_INCREMENTAL
    )


_register_round3_batch2()


def _q_kg_fact_history(spark, sf_dir):
    """Fact history / valid-time rollup: each (subj, pred, obj) with its
    provenance breadth (supporting docs) and observation interval
    (first/last capture, active span) — the temporal-KG metadata a
    10^12-page crawl KG keeps per fact. Capture time derives
    deterministically from doc_id (the fixture's stand-in for warc_ts).
    One hash aggregate over the triple stream; map-side partial, so a
    head fact (millions of supports) costs one partial row per task."""
    rel = _doc_relations(spark, sf_dir).select(
        "subj",
        "pred",
        "obj",
        "doc_id",
        F.timestamp_add(
            "DAY",
            (F.col("doc_id") % 30).cast("int"),
            F.to_timestamp(F.lit("2026-01-01")),
        ).alias("seen_ts"),
    )
    return rel.groupBy("subj", "pred", "obj").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("seen_ts").alias("first_seen"),
        F.max("seen_ts").alias("last_seen"),
        (
            F.datediff(F.max("seen_ts"), F.min("seen_ts")) + 1
        ).alias("active_days"),
    )


_SQL_KG_FACT_HISTORY = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
obs AS (SELECT subj, pred, obj, doc_id,
               TIMESTAMP '2026-01-01' +
                 INTERVAL (doc_id % 30) DAY AS seen_ts
        FROM relations)
SELECT subj, pred, obj,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       MIN(seen_ts) AS first_seen, MAX(seen_ts) AS last_seen,
       CAST(date_diff('day', MIN(seen_ts), MAX(seen_ts)) + 1 AS INT)
         AS active_days
FROM obs GROUP BY subj, pred, obj
"""

QUERIES["kg_fact_history"] = Q(_q_kg_fact_history, _SQL_KG_FACT_HISTORY)


_ASOF_T = "2026-01-15"


def _q_kg_asof_facts(spark, sf_dir):
    """Temporal as-of retrieval: the KG's state at time T — per (subj,
    pred) the most recently observed object at-or-before T (ties broken
    by max obj for determinism) plus its support breadth up to T. The
    classic bitemporal point query over the fact stream that
    kg_fact_history summarizes. Two keyed aggregations over the filtered
    stream (latest pick is one max_by with a (ts, obj) ordering struct —
    partial-aggregated, no window, no sort); AQE joins them on the same
    (subj, pred) hash partitioning."""
    rel = _doc_relations(spark, sf_dir).select(
        "subj",
        "pred",
        "obj",
        "doc_id",
        F.timestamp_add(
            "DAY",
            (F.col("doc_id") % 30).cast("int"),
            F.to_timestamp(F.lit("2026-01-01")),
        ).alias("seen_ts"),
    ).filter(F.col("seen_ts") <= F.to_timestamp(F.lit(_ASOF_T)))
    latest = rel.groupBy("subj", "pred").agg(
        F.max_by("obj", F.struct("seen_ts", "obj")).alias("obj_asof"),
        F.max("seen_ts").alias("asof_ts"),
    )
    support = rel.groupBy("subj", "pred").agg(
        F.countDistinct("doc_id").alias("n_supports")
    )
    return latest.join(support, on=["subj", "pred"], how="inner")


_SQL_KG_ASOF_FACTS = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
obs AS (SELECT subj, pred, obj, doc_id,
               TIMESTAMP '2026-01-01' +
                 INTERVAL (doc_id % 30) DAY AS seen_ts
        FROM relations
        WHERE TIMESTAMP '2026-01-01' + INTERVAL (doc_id % 30) DAY
              <= TIMESTAMP '{_ASOF_T}'),
latest AS (
  SELECT subj, pred, obj AS obj_asof, seen_ts AS asof_ts,
         row_number() OVER (PARTITION BY subj, pred
                            ORDER BY seen_ts DESC, obj DESC) AS rn
  FROM obs),
sup AS (
  SELECT subj, pred, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_supports
  FROM obs GROUP BY subj, pred)
SELECT l.subj, l.pred, l.obj_asof, l.asof_ts, s.n_supports
FROM latest l JOIN sup s ON s.subj = l.subj AND s.pred = l.pred
WHERE l.rn = 1
"""

QUERIES["kg_asof_facts"] = Q(_q_kg_asof_facts, _SQL_KG_ASOF_FACTS)


# -- round-3 batch 3: table annotation, IFP sameAs, keywords, histograms -----

def _q_webtable_column_types(spark, sf_dir):
    """Semantic table interpretation (operators/webtables.py): per-column
    all-values datatype + strict-majority vocab vote, headers joined back —
    the annotation step between raw web tables and triple-ification."""
    from search_spark import oracles
    from search_spark.operators.webtables import column_types, table_cells

    pages = spark.createDataFrame(
        oracles.webtable_pages(), schema="url string, html binary"
    )
    vocab = spark.createDataFrame(
        oracles.webtable_vocab_rows(), schema="value string, sem_type string"
    )
    # the annotation consumes the cell table three ways (stats, votes,
    # headers); materialize the Arrow parse once instead of 3× (plan audit
    # showed 6 python ops without this — at 10^12 pages you'd persist the
    # parsed cells table anyway)
    cells = table_cells(pages).localCheckpoint(eager=False)
    return column_types(cells, vocab)


def _q_kg_ifp_sameas(spark, sf_dir):
    """Identity inference from inverse-functional predicates
    (operators/blocking.py): shared (email|phone) values → sameAs
    candidate pairs, with the blocking purge dropping the hot shared
    homepage key before any pair fan-out."""
    from search_spark import oracles
    from search_spark.operators.blocking import ifp_candidates

    triples = spark.createDataFrame(
        oracles.ifp_fixture_rows(),
        schema="subj string, pred string, obj string",
    )
    return ifp_candidates(
        triples, list(oracles.IFP_PREDS), max_group=oracles.IFP_MAX_GROUP
    )


def _q_kg_sameas_rewrite(spark, sf_dir):
    """Entity-resolution merge (operators/canonicalize.py sameas_rewrite):
    IFP sameAs pairs → connected components → every triple's subj/obj
    rewritten to the class representative with a distinct-source
    provenance count — the consolidation step between identity inference
    and fusion."""
    from search_spark import oracles
    from search_spark.operators.blocking import ifp_candidates
    from search_spark.operators.canonicalize import sameas_rewrite

    triples = spark.createDataFrame(
        oracles.ifp_fixture_rows(),
        schema="subj string, pred string, obj string",
    )
    pairs = ifp_candidates(
        triples, list(oracles.IFP_PREDS), max_group=oracles.IFP_MAX_GROUP
    ).select("a", "b").distinct()
    return sameas_rewrite(triples, pairs)


def _q_keyword_rake(spark, sf_dir):
    """RAKE keyword extraction (operators/keywords.py): stopword-delimited
    phrase runs, corpus-wide integer word degrees, per-doc top-3 — the
    keyphrase column a web-KG attaches to entity home documents."""
    from search_spark.operators.keywords import rake_keywords

    return rake_keywords(
        _docs(spark, sf_dir).select("doc_id", "text"),
        STOPWORDS,
        top_k=3,
        min_len=2,
    )


def _q_kg_degree_histogram(spark, sf_dir):
    """Log2-binned degree distribution of the co-occurrence multigraph —
    the power-law diagnostic read before choosing skew strategy. Bin id is
    the binary-string length (integer-exact floor(log2), no float log)."""
    edges = _kg_edge_instances(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("entity")).unionAll(
        edges.select(F.col("dst").alias("entity"))
    )
    deg = nodes.groupBy("entity").agg(
        F.count("*").cast("long").alias("degree")
    )
    binned = deg.withColumn(
        "bin_id", (F.length(F.bin("degree")) - 1).cast("int")
    )
    return binned.groupBy("bin_id").agg(
        F.count("*").cast("long").alias("n_entities"),
        F.min("degree").alias("min_degree"),
        F.max("degree").alias("max_degree"),
    )


_SQL_KG_DEGREE_HISTOGRAM = f"""
{_MENTIONS_SQL}, {_EDGES_SQL_BODY},
deg AS (SELECT entity, CAST(count(*) AS BIGINT) AS degree
        FROM (SELECT src AS entity FROM edges
              UNION ALL SELECT dst FROM edges) e
        GROUP BY entity)
SELECT CAST(length(bin(degree)) - 1 AS INT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_entities,
       MIN(degree) AS min_degree, MAX(degree) AS max_degree
FROM deg GROUP BY bin_id
"""


def _register_round3_batch3() -> None:
    from search_spark import oracles

    QUERIES["webtable_column_types"] = Q(
        _q_webtable_column_types,
        oracles.webtable_column_types_oracle_sql(),
    )
    QUERIES["kg_ifp_sameas"] = Q(_q_kg_ifp_sameas, oracles.ifp_oracle_sql())
    QUERIES["kg_sameas_rewrite"] = Q(
        _q_kg_sameas_rewrite, oracles.sameas_rewrite_oracle_sql()
    )
    QUERIES["keyword_rake"] = Q(
        _q_keyword_rake, oracles.rake_oracle_sql(STOPWORDS, 3, 2)
    )
    QUERIES["kg_degree_histogram"] = Q(
        _q_kg_degree_histogram, _SQL_KG_DEGREE_HISTOGRAM
    )


_register_round3_batch3()


def _q_sparql_graph_var(spark, sf_dir):
    """SPARQL ``GRAPH ?g`` over the engine's quad model: the graph label
    (``prov``) projects onto every pattern scan as one more shared join
    variable (operators/bgp.py match_bgp graph_var), so the same-graph
    rule costs exactly the variable hash-joins — no per-graph loop, no
    extra shuffle, named graphs only. Here both patterns co-land in the
    provenance graph of the relation's subject mention."""
    from search_spark.operators.sparql import sparql_select

    query = f"""
    SELECT DISTINCT ?g ?m ?t ?o WHERE {{
      GRAPH ?g {{ ?m <has_type> ?t . ?m <{DIFF}> ?o }}
    }}
    """
    return sparql_select(_q_kg_doc_triples(spark, sf_dir), query)


_SQL_SPARQL_GRAPH_VAR = f"""
{_MENTIONS_SQL}, {_RELATIONS_SQL_BODY},
triples AS (
  SELECT mention AS subj, 'has_type' AS pred, entity_type AS obj,
         CAST(doc_id AS VARCHAR) || ':' || CAST(tpos AS VARCHAR) AS prov
  FROM mentions
  UNION ALL
  SELECT subj, pred, obj,
         CAST(doc_id AS VARCHAR) || ':' || CAST(s_tpos AS VARCHAR) AS prov
  FROM relations)
SELECT DISTINCT t1.prov AS g, t1.subj AS m, t1.obj AS t, t2.obj AS o
FROM triples t1
JOIN triples t2 ON t2.prov = t1.prov AND t2.subj = t1.subj
WHERE t1.pred = 'has_type' AND t2.pred = '{DIFF}'
  AND t1.prov IS NOT NULL AND t2.prov IS NOT NULL
"""


def _register_round3_batch4() -> None:
    QUERIES["sparql_graph_var"] = Q(
        _q_sparql_graph_var, _SQL_SPARQL_GRAPH_VAR
    )


_register_round3_batch4()


# -- learned linear artifacts (round 4) --------------------------------------
#
# The trained models (tools/train_linear_models.py → models/*.parquet) run
# through the engine's model slots with FULL DuckDB value-hash oracles: the
# mention/relation scorers inline the committed weights into the SQL
# (features are Column-algebra-and-ANSI-SQL-expressible by construction),
# and the flagship-with-models query uses a pure-Python mirror that loads
# the same committed artifact (oracles.kg_triples_learned_expected).

def _q_learned_mention_score(spark, sf_dir):
    """Learned NER mention confidence over the documents gazetteer stream:
    one BROADCAST join of the 1-row weight table (read from the parquet
    artifact — the weights ship as data) then codegen dot-product+sigmoid
    (operators/linear_models.py). Exercises the model slot the reference
    fills with its spaCy scorer (mining_cache.py:84) — zero Python here."""
    from search_spark.operators import linear_models as lm

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    m = _doc_mentions(spark, sf_dir).join(docs, on="doc_id")
    w = lm.weights_row(spark, lm.NER_WEIGHTS_PARQUET, lm.NER_FEATURES)
    feats = lm.ner_feature_array(
        F.col("mention"), F.col("tpos"), F.col("text"),
        F.col("entity_type"),
    )
    return m.join(F.broadcast(w)).select(
        "doc_id",
        "tpos",
        "mention",
        "entity_type",
        F.round(
            lm.dot_sigmoid(feats, F.col("_w"), F.col("_b")), 6
        ).alias("score"),
    )


def _sql_learned_ner_z(mention: str, tpos: str, text: str, etype: str) -> str:
    """The NER linear logit as DuckDB SQL, weights inlined from the
    committed JSON sidecar — term order matches the Spark fold exactly."""
    from search_spark.operators.linear_models import (
        ETYPES,
        NER_WEIGHTS_JSON,
        load_weights_json,
    )

    meta = load_weights_json(NER_WEIGHTS_JSON)
    w = meta["weights"]
    b = meta["bias"]
    mlen = f"greatest(length({mention}), 1)"
    ntok = f"len(regexp_split_to_array({mention}, '\\s+'))"
    feats = [
        f"CAST(length({mention}) AS DOUBLE) / 32.0",
        f"CAST({ntok} AS DOUBLE) / 8.0",
        f"CASE WHEN regexp_matches(substr({mention}, 1, 1), '^[A-Z]')"
        " THEN 1.0 ELSE 0.0 END",
        f"CASE WHEN {mention} = upper({mention})"
        f" AND regexp_matches({mention}, '[A-Za-z]')"
        " THEN 1.0 ELSE 0.0 END",
        f"CAST(length({mention}) -"
        f" length(regexp_replace({mention}, '[0-9]', '', 'g')) AS DOUBLE)"
        f" / CAST({mlen} AS DOUBLE)",
        f"CAST(length({mention}) -"
        f" length(regexp_replace({mention}, '[A-Z]', '', 'g')) AS DOUBLE)"
        f" / CAST({mlen} AS DOUBLE)",
        f"CASE WHEN contains({mention}, '-') THEN 1.0 ELSE 0.0 END",
        f"CASE WHEN {ntok} > 1 THEN 1.0 ELSE 0.0 END",
        f"CAST({tpos} AS DOUBLE)"
        f" / CAST(greatest(length({text}), 1) AS DOUBLE)",
    ] + [
        f"CASE WHEN {etype} = '{t}' THEN 1.0 ELSE 0.0 END" for t in ETYPES
    ]
    terms = " + ".join(f"({wi!r}) * ({f})" for wi, f in zip(w, feats))
    return f"(({terms}) + ({b!r}))"


def _sql_learned_mention_score() -> str:
    z = _sql_learned_ner_z("m.mention", "m.tpos", "d.text", "m.entity_type")
    return f"""
{_MENTIONS_SQL}
SELECT m.doc_id, m.tpos, m.mention, m.entity_type,
       round(1.0 / (1.0 + exp(-{z})), 6) AS score
FROM mentions m JOIN documents d ON m.doc_id = d.doc_id
"""


def _q_learned_relation_extract(spark, sf_dir):
    """Relation classification by the TRAINED linear model over pair
    geometry (operators/linear_models.py RE_FEATURES), JVM path: pairs
    from the ordered co-sentence self-join, weights broadcast, logit +
    argmax as codegen. ``pred`` is the model's argmax class (ties to the
    positive class, matching the Arrow path's ``idxmax``).

    Feature-domain note (ADVICE r4, resolved r5): the mention stream
    here carries real CHAR offsets — ``cstart`` is a running window
    sum of ``length(tok) + 1`` over the preceding tokens (the
    whitespace-joined document geometry), ``cend = cstart +
    length(mention)`` — so ``gap_chars`` and the span-length features
    feed the trained weights in exactly the char domain they were
    fitted on (the same geometry ``kg_pipeline_learned``'s pipeline
    mention stream uses). Candidate pairing still windows on token
    distance (REL_DISTANCE), as the pipeline does."""
    from pyspark.sql import Window

    from search_spark.operators import linear_models as lm

    wtok = Window.partitionBy("doc_id").orderBy("tpos")
    gaz = spark.createDataFrame(DOC_GAZETTEER, ["pattern", "entity_type"])
    m = (
        _tokens(spark, sf_dir)
        .withColumn(
            "cstart",
            F.coalesce(
                F.sum(F.length("tok") + 1).over(
                    wtok.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long"),
        )
        .join(F.broadcast(gaz), F.col("tok") == F.col("pattern"), "inner")
        .filter(F.col("entity_type") != "NaE")
        .select(
            "doc_id", "tpos", F.col("tok").alias("mention"), "entity_type",
            "cstart", (F.col("cstart") + F.length("tok")).alias("cend"),
        )
    )
    s = m.select(
        "doc_id",
        F.col("tpos").alias("s_tpos"),
        F.col("mention").alias("subj"),
        F.col("entity_type").alias("s_type"),
        F.col("cstart").alias("s_cstart"),
        F.col("cend").alias("s_cend"),
    )
    o = m.select(
        "doc_id",
        F.col("tpos").alias("o_tpos"),
        F.col("mention").alias("obj"),
        F.col("entity_type").alias("o_type"),
        F.col("cstart").alias("o_cstart"),
        F.col("cend").alias("o_cend"),
    )
    pairs = (
        s.join(o, on="doc_id")
        .filter(
            (F.col("s_type") == "OPERATOR")
            & (F.col("o_type") == "OBJECT")
            & (F.col("s_tpos") != F.col("o_tpos"))
            & (F.abs(F.col("s_tpos") - F.col("o_tpos")) <= REL_DISTANCE)
        )
    )
    w = lm.weights_row(spark, lm.RE_WEIGHTS_PARQUET, lm.RE_FEATURES)
    feats = lm.re_feature_array({
        "s_mention": F.col("subj"),
        "o_mention": F.col("obj"),
        "s_start": F.col("s_cstart"),
        "s_end": F.col("s_cend"),
        "o_start": F.col("o_cstart"),
        "o_end": F.col("o_cend"),
    })
    return (
        pairs.join(F.broadcast(w))
        .withColumn(
            "prob",
            F.round(lm.dot_sigmoid(feats, F.col("_w"), F.col("_b")), 6),
        )
        .select(
            "doc_id",
            "s_tpos",
            "o_tpos",
            "subj",
            "obj",
            F.when(F.col("prob") >= 0.5, F.lit(SAME))
            .otherwise(F.lit(DIFF))
            .alias("pred"),
            "prob",
        )
    )


def _sql_learned_relation_extract() -> str:
    from search_spark.operators.linear_models import (
        RE_WEIGHTS_JSON,
        load_weights_json,
    )

    meta = load_weights_json(RE_WEIGHTS_JSON)
    w = meta["weights"]
    b = meta["bias"]
    feats = [
        "CASE WHEN lower(substr(s.mention, 1, 1)) ="
        " lower(substr(o.mention, 1, 1)) THEN 1.0 ELSE 0.0 END",
        "CAST(greatest(s.cstart, o.cstart) - least(s.cend, o.cend)"
        " AS DOUBLE) / 64.0",
        "CAST(length(s.mention) AS DOUBLE) / 32.0",
        "CAST(length(o.mention) AS DOUBLE) / 32.0",
        "CASE WHEN s.cstart < o.cstart THEN 1.0 ELSE 0.0 END",
    ]
    terms = " + ".join(f"({wi!r}) * ({f})" for wi, f in zip(w, feats))
    z = f"(({terms}) + ({b!r}))"
    # char-offset mentions: cstart = running sum of length(tok)+1 over
    # the preceding tokens (whitespace-joined geometry), mirroring the
    # Spark window exactly
    mentions_c = (
        f"WITH {_TOKS_SQL}, {_GAZ_SQL}, "
        "toks_c AS (SELECT doc_id, tpos, tok,"
        " COALESCE(SUM(length(tok) + 1) OVER (PARTITION BY doc_id"
        " ORDER BY tpos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),"
        " 0) AS cstart FROM toks), "
        "mentions AS (SELECT doc_id, tpos, tok AS mention, entity_type,"
        " cstart, cstart + length(tok) AS cend"
        " FROM toks_c JOIN gaz ON tok = pattern"
        " WHERE entity_type <> 'NaE')"
    )
    return f"""
{mentions_c},
scored AS (
  SELECT s.doc_id, s.tpos AS s_tpos, o.tpos AS o_tpos,
         s.mention AS subj, o.mention AS obj,
         round(1.0 / (1.0 + exp(-{z})), 6) AS prob
  FROM mentions s JOIN mentions o
    ON s.doc_id = o.doc_id AND s.tpos <> o.tpos
   AND abs(s.tpos - o.tpos) <= {REL_DISTANCE}
  WHERE s.entity_type = 'OPERATOR' AND o.entity_type = 'OBJECT')
SELECT doc_id, s_tpos, o_tpos, subj, obj,
       CASE WHEN prob >= 0.5 THEN '{SAME}' ELSE '{DIFF}' END AS pred,
       prob
FROM scored
"""


def _q_kg_pipeline_learned(spark, sf_dir):
    """The flagship KG pipeline with the trained artifacts LIVE in both
    model slots (PipelineConfig(learned_models=True)): the mention stream
    carries the learned confidence (broadcast weight join, JVM), and
    relation scoring runs the trained LinearREModel under the batched
    ``predict_probs_batch`` Arrow contract (reference predict_probs,
    mining/relation.py:63-87). Oracle = pure-Python mirror loading the
    SAME committed weight artifact (oracles.kg_triples_learned_expected)."""
    from search_spark import datagen
    from search_spark.pipeline import PipelineConfig, build_triples

    pages = datagen.generate_web_pages(spark, 80, seed=42)
    triples = build_triples(
        spark, pages, PipelineConfig(learned_models=True)
    )
    return triples.select("subj", "pred", "obj", "prov").distinct()


def _register_learned_models() -> None:
    import os

    from search_spark.operators.linear_models import (
        NER_WEIGHTS_JSON,
        NER_WEIGHTS_PARQUET,
        RE_WEIGHTS_JSON,
        RE_WEIGHTS_PARQUET,
    )

    if not all(
        os.path.exists(p)
        for p in (NER_WEIGHTS_JSON, NER_WEIGHTS_PARQUET,
                  RE_WEIGHTS_JSON, RE_WEIGHTS_PARQUET)
    ):
        return  # artifacts not trained yet (tools/train_linear_models.py)
    from search_spark import oracles

    QUERIES["learned_mention_score"] = Q(
        _q_learned_mention_score, _sql_learned_mention_score()
    )
    QUERIES["learned_relation_extract"] = Q(
        _q_learned_relation_extract, _sql_learned_relation_extract()
    )
    QUERIES["kg_pipeline_learned"] = Q(
        _q_kg_pipeline_learned,
        oracles.kg_triples_learned_oracle_sql(80, 42),
    )


_register_learned_models()


# -- distributed spacy2df: token-aligned IOB tagging (round 4) ---------------

#: two-token patterns for the IOB query — includes an overlap chain
#: ("sort merge" / "merge join" share a token: greedy-left wins, exactly
#: spaCy filter_spans) and an excluded-type bigram that claims its tokens
#: during matching but renders as O (reference doc.ents post-filter).
EVAL_BIGRAMS: list[tuple[str, str, str]] = [
    ("sort", "merge", "ALGO"),
    ("merge", "join", "ALGO"),
    ("table", "scan", "ALGO"),
    ("hash", "scan", "NaE"),
]


def _q_token_iob_tags(spark, sf_dir):
    """Distributed ``spacy2df`` over the documents tokenization
    (operators/evaluation.py token_iob_stage): IOB2 tags pinned to the
    whitespace tokenization, unigram gazetteer + bigram phrase patterns,
    spaCy filter_spans overlap semantics via two window passes — the
    token-mode-eval bridge at corpus scale (reference mining/eval.py:
    158-228)."""
    from search_spark.operators.evaluation import token_iob_stage

    toks = _tokens(spark, sf_dir)
    uni = spark.createDataFrame(DOC_GAZETTEER, ["pattern", "entity_type"])
    bi = spark.createDataFrame(
        EVAL_BIGRAMS, ["first", "second", "entity_type"]
    )
    return token_iob_stage(toks, uni, bi)


_BIG_SQL = "big(first, second, entity_type) AS (VALUES {})".format(
    ", ".join(f"('{a}', '{b}', '{e}')" for a, b, e in EVAL_BIGRAMS)
)

_SQL_TOKEN_IOB_TAGS = f"""
WITH {_TOKS_SQL}, {_GAZ_SQL}, {_BIG_SQL},
nxt AS (
  SELECT doc_id, tpos, tok,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY tpos) AS next_tok
  FROM toks),
cand AS (
  SELECT n.doc_id, n.tpos, b.entity_type
  FROM nxt n JOIN big b ON n.tok = b.first AND n.next_tok = b.second),
chained AS (
  SELECT doc_id, tpos, entity_type,
         tpos - row_number() OVER (PARTITION BY doc_id ORDER BY tpos) AS grp
  FROM cand),
surv AS (
  SELECT doc_id, tpos, entity_type FROM (
    SELECT *, row_number()
             OVER (PARTITION BY doc_id, grp ORDER BY tpos) AS rn
    FROM chained)
  WHERE (rn - 1) % 2 = 0),
itag AS (SELECT doc_id, tpos + 1 AS tpos, entity_type FROM surv)
SELECT t.doc_id, t.tpos, t.tok AS text,
  CASE
    WHEN s.entity_type IS NOT NULL THEN
      CASE WHEN s.entity_type = 'NaE' THEN 'O'
           ELSE 'B-' || s.entity_type END
    WHEN i.entity_type IS NOT NULL THEN
      CASE WHEN i.entity_type = 'NaE' THEN 'O'
           ELSE 'I-' || i.entity_type END
    WHEN g.entity_type IS NOT NULL THEN
      CASE WHEN g.entity_type = 'NaE' THEN 'O'
           ELSE 'B-' || g.entity_type END
    ELSE 'O'
  END AS class
FROM toks t
LEFT JOIN surv s ON s.doc_id = t.doc_id AND s.tpos = t.tpos
LEFT JOIN itag i ON i.doc_id = t.doc_id AND i.tpos = t.tpos
LEFT JOIN gaz g ON t.tok = g.pattern
"""

QUERIES["token_iob_tags"] = Q(_q_token_iob_tags, _SQL_TOKEN_IOB_TAGS)


# -- general n-token IOB tagging (round 5) -----------------------------------

#: mixed-length phrase patterns for the general stage — trigrams that
#: overlap the bigrams ("sort merge join" beats both "sort merge" and
#: "merge join"), a self-overlapping trigram chain ("batch batch batch"
#: over runs of "batch"), and an excluded-type trigram that claims its
#: tokens but renders O. Unigrams reuse the document gazetteer.
EVAL_NGRAMS: list[tuple[str, str]] = (
    [(f"{a} {b}", e) for a, b, e in EVAL_BIGRAMS]
    + [
        ("sort merge join", "PIPE"),
        ("table scan merge", "PLAN"),
        ("batch batch batch", "REP"),
        ("hash scan join", "NaE"),
    ]
    + list(DOC_GAZETTEER)
)


def _q_token_iob_ngrams(spark, sf_dir):
    """General-length distributed ``spacy2df``
    (operators/evaluation.py token_iob_stage_ngrams): exact spaCy
    filter_spans semantics for 1/2/3-token patterns via the
    iterate-by-length pass — candidates per length from lead-window
    joins, claimed-token elimination, overlap-chain grouping, and a JVM
    ``aggregate`` greedy scan per chain. Zero UDF (reference
    mining/eval.py:158-228 + spacy.util.filter_spans)."""
    from search_spark.operators.evaluation import token_iob_stage_ngrams

    toks = _tokens(spark, sf_dir)
    pats = spark.createDataFrame(EVAL_NGRAMS, ["pattern", "entity_type"])
    return token_iob_stage_ngrams(toks, pats)


_NGRAM_SQL = "pats(pattern, entity_type) AS (VALUES {})".format(
    ", ".join(f"('{p}', '{e}')" for p, e in EVAL_NGRAMS)
)


def _ngram_oracle_len(L: int, eliminate_against: list[str]) -> str:
    """One iterate-by-length pass of the filter_spans oracle, as DuckDB
    CTEs (suffix ``{L}``): window-join candidates, elimination against
    the already-claimed token positions, overlap-chain grouping, and the
    same greedy scan the engine runs — here a nested-lambda
    ``list_reduce`` (accept ``x`` iff the greedy last-accepted over the
    prefix ending at ``x`` is ``x`` itself; greedy is prefix-stable so
    the two formulations agree)."""
    leads = ", ".join(
        f"lead(tok, {i}) OVER w AS t{i}" for i in range(1, L)
    )
    join_on = " AND ".join(
        ["t.tok = p.w[1]"] + [f"t.t{i} = p.w[{i + 1}]" for i in range(1, L)]
    )
    elim = ""
    if eliminate_against:
        claimed_union = " UNION ALL ".join(
            f"SELECT doc_id, tpos FROM {c}" for c in eliminate_against
        )
        elim = f"""
c{L}e AS (
  SELECT c.* FROM c{L} c
  WHERE NOT EXISTS (
    SELECT 1 FROM ({claimed_union}) k
    WHERE k.doc_id = c.doc_id AND k.tpos BETWEEN c.s AND c.s + {L - 1})),"""
        src = f"c{L}e"
    else:
        src = f"c{L}"
    lead_src = (
        f"(SELECT doc_id, tpos, tok, {leads} FROM toks "
        "WINDOW w AS (PARTITION BY doc_id ORDER BY tpos)) t"
        if L > 1
        else "(SELECT doc_id, tpos, tok FROM toks) t"
    )
    return f"""
p{L} AS (SELECT string_split(pattern, ' ') AS w, entity_type FROM pats
        WHERE len(string_split(pattern, ' ')) = {L}),
c{L} AS (
  SELECT t.doc_id, t.tpos AS s, min(p.entity_type) AS etype
  FROM {lead_src}
  JOIN p{L} p ON {join_on}
  GROUP BY t.doc_id, t.tpos),{elim}
ch{L} AS (
  SELECT doc_id, s, etype,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY s
                        ROWS UNBOUNDED PRECEDING) AS chain
  FROM (SELECT doc_id, s, etype,
          CASE WHEN s - lag(s) OVER (PARTITION BY doc_id ORDER BY s)
                    >= {L} THEN 1 ELSE 0 END AS brk
        FROM {src})),
g{L} AS (SELECT doc_id, chain, list(s ORDER BY s) AS ss
        FROM ch{L} GROUP BY doc_id, chain),
a{L}s AS (
  SELECT doc_id, unnest(list_filter(ss, x ->
    x = list_reduce(list_filter(ss, y -> y <= x),
                    (acc, y) -> CASE WHEN y >= acc + {L} THEN y
                                     ELSE acc END))) AS s
  FROM g{L}),
cl{L} AS (
  SELECT a.doc_id, c.s, c.etype,
         unnest(range(c.s, c.s + {L})) AS tpos
  FROM a{L}s a JOIN ch{L} c ON a.doc_id = c.doc_id AND a.s = c.s)"""


_SQL_TOKEN_IOB_NGRAMS = f"""
WITH {_TOKS_SQL}, {_NGRAM_SQL},
{_ngram_oracle_len(3, [])},
{_ngram_oracle_len(2, ["cl3"])},
{_ngram_oracle_len(1, ["cl3", "cl2"])},
tags AS (
  SELECT doc_id, tpos,
    CASE WHEN etype = 'NaE' THEN 'O'
         WHEN tpos = s THEN 'B-' || etype
         ELSE 'I-' || etype END AS tag
  FROM (SELECT * FROM cl3 UNION ALL SELECT * FROM cl2
        UNION ALL SELECT * FROM cl1))
SELECT t.doc_id, t.tpos, t.tok AS text, coalesce(g.tag, 'O') AS class
FROM toks t
LEFT JOIN tags g ON g.doc_id = t.doc_id AND g.tpos = t.tpos
"""

QUERIES["token_iob_ngrams"] = Q(_q_token_iob_ngrams, _SQL_TOKEN_IOB_NGRAMS)
