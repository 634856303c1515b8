"""Text-analysis + deduplication operators for the training-data pipeline
(graft additions — no reference analogue; first-class per the build brief):

* exact dedup            — md5 hash-groupBy
* MinHash + LSH banding  — shingle -> portable hash -> k mins -> band buckets
* SimHash (32-bit)       — token-hash bit voting
* n-gram Jaccard         — array_intersect/array_union, JVM-side
* token counting / quality scoring / fingerprinting / language stats

Everything runs as pure ``pyspark.sql`` column expressions (higher-order
functions; zero Python UDFs) and every operator has an exact DuckDB oracle:
the portable hash is ``CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)`` which
Spark expresses as ``conv(substring(md5(s), 1, 15), 16, 10)`` — identical
60-bit integers in both engines.

The driver corpus has no duplicates, so dedup queries run over an AUGMENTED
corpus built with deterministic string arithmetic (exact dups for
doc_id%5==0, truncated near-dups for doc_id%7==0) that the oracle SQL
reconstructs identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

P = 2147483647  # 2^31 - 1
N_MINHASH = 16
BANDS = 4  # 4 rows per band
SHINGLE = 5

STOPWORDS = ("the", "a", "of", "and")


# --------------------------------------------------------------------------- #
# corpus
# --------------------------------------------------------------------------- #

def corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + deterministic exact-dup and near-dup rows.

    Synthetic-row cid offsets are 1e12 apart: doc_id is a bigint, so a
    collision would need 10^12 base documents — offsets of 1e5 collided as
    soon as the table passed 100k rows."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = d.select(F.col("doc_id").alias("cid"), "text", "lang", "source")
    dups = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000_000_000)).alias("cid"), "text", "lang", "source"
    )
    near = d.filter((F.col("doc_id") % 7 == 0) & (F.col("n_chars") > 40)).select(
        (F.col("doc_id") + F.lit(2_000_000_000_000)).alias("cid"),
        F.expr("substring(text, 1, n_chars - 10)").alias("text"),
        "lang",
        "source",
    )
    return base.unionByName(dups).unionByName(near)


CORPUS_SQL = """
corpus AS (
  SELECT doc_id AS cid, text, lang, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000000000, text, lang, source FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 2000000000000, substr(text, 1, CAST(n_chars - 10 AS INT)), lang, source
  FROM documents WHERE doc_id % 7 = 0 AND n_chars > 40
)"""


# --------------------------------------------------------------------------- #
# portable hashing
# --------------------------------------------------------------------------- #

def phash60(col: Column) -> Column:
    """60-bit integer hash identical in Spark and DuckDB (md5 prefix)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def PHASH60_SQL(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def shingles(text: Column, n: int = SHINGLE) -> Column:
    """array<string> of overlapping char n-grams (JVM-side)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1))),
        lambda i: text.substr(i, F.lit(n)),
    )


# --------------------------------------------------------------------------- #
# exact dedup
# --------------------------------------------------------------------------- #

def exact_dedup(c: DataFrame) -> DataFrame:
    """(cid, content_hash, group_size, canonical_cid, is_dup).

    Group stats ride a window over ``content_hash`` rather than a
    groupBy + join-back: the join formulation evaluates the corpus
    lineage twice (two full reads at cluster scale) and shuffles both
    sides; the window is one read and one exchange, and the group's
    count/min are computed in the same pass that annotates each row."""
    w = Window.partitionBy("content_hash")
    return c.withColumn("content_hash", F.md5("text")).select(
        "cid",
        "content_hash",
        F.count("*").over(w).alias("group_size"),
        F.min("cid").over(w).alias("canonical_cid"),
    ).withColumn(
        "is_dup", F.col("cid") != F.col("canonical_cid")
    )


EXACT_DEDUP_SQL = (
    CORPUS_SQL
    + """,
h AS (SELECT cid, md5(text) AS content_hash FROM corpus),
g AS (SELECT content_hash, count(*) AS group_size, min(cid) AS canonical_cid
      FROM h GROUP BY content_hash)
SELECT h.cid, h.content_hash, g.group_size, g.canonical_cid,
       h.cid <> g.canonical_cid AS is_dup
FROM h JOIN g USING (content_hash)"""
)


# --------------------------------------------------------------------------- #
# MinHash signatures + LSH candidate pairs
# --------------------------------------------------------------------------- #

def _mh_params(i: int) -> tuple[int, int]:
    return (i * 2654435761 + 1) % P, (i * 40503 + 7) % P


def minhash_signature(c: DataFrame) -> DataFrame:
    """(cid, mh_0..mh_{k-1}): min over shingles of (a_i*h'+b_i) mod P."""
    sh = c.select(
        "cid", F.explode(F.array_distinct(shingles(F.col("text")))).alias("s")
    )
    sh = sh.withColumn("hp", phash60(F.col("s")) % P)
    aggs = []
    for i in range(N_MINHASH):
        a, b = _mh_params(i)
        aggs.append(F.min((F.col("hp") * a + b) % P).alias(f"mh_{i}"))
    return sh.groupBy("cid").agg(*aggs)


def _minhash_ctes() -> str:
    """CTE chain ending in ``sig`` (cid, mh_0..mh_{k-1})."""
    mins = ",\n  ".join(
        f"min((hp * {a} + {b}) % {P}) AS mh_{i}"
        for i, (a, b) in ((i, _mh_params(i)) for i in range(N_MINHASH))
    )
    return (
        CORPUS_SQL
        + f""",
sh0 AS (
  SELECT cid, unnest(generate_series(1, greatest(length(text) - {SHINGLE - 1}, 1))) AS g, text
  FROM corpus
),
sh AS (
  SELECT DISTINCT cid, {PHASH60_SQL(f"substr(text, CAST(g AS INT), {SHINGLE})")} % {P} AS hp
  FROM sh0
),
sig AS (SELECT cid, {mins} FROM sh GROUP BY cid)"""
    )


def minhash_signature_sql() -> str:
    return _minhash_ctes() + "\nSELECT * FROM sig"


def lsh_candidate_pairs(
    sig: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """Distinct (cid_a < cid_b) pairs sharing at least one LSH band.

    Plan shape matters here: the naive formulation (union of per-band
    projections, self-joined on (band, bkey)) re-evaluates the ENTIRE
    upstream signature aggregation — shingle explode + k-way min — once
    per band per join side (8x at BANDS=4; Catalyst reuses neither
    common subtrees nor, pre-AQE, their exchanges).  Instead: project
    all band structs from ONE sig lineage and explode (one aggregation
    total), bucket by (band, bkey) with a sorted collect_list, and
    enumerate the i<j pairs inside each bucket array — the same
    candidate set, one pass over the corpus, and one fewer shuffle than
    the self-join (no join exchange, just the bucket groupBy).

    ``max_bucket`` (optional) drops buckets larger than the cap before
    pair expansion: a degenerate bucket of B near-identical docs emits
    B(B-1)/2 pairs under EITHER formulation, and at corpus scale such
    buckets are exact-dup clusters better handled by
    :func:`exact_dedup`.  Default None preserves exact oracle parity.
    """
    rows_per_band = N_MINHASH // BANDS
    band_structs = []
    for band in range(BANDS):
        cols = [f"mh_{band * rows_per_band + r}" for r in range(rows_per_band)]
        band_structs.append(
            F.struct(
                F.lit(band).alias("band"),
                F.md5(F.concat_ws(",", *cols)).alias("bkey"),
            )
        )
    bands = sig.select(
        "cid", F.explode(F.array(*band_structs)).alias("bb")
    ).select("cid", "bb.band", "bb.bkey")
    buckets = (
        bands.groupBy("band", "bkey")
        .agg(F.sort_array(F.collect_list("cid")).alias("cids"))
        .filter(F.size("cids") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("cids") <= max_bucket)
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(cids, (x, i) -> "
                    "transform(slice(cids, i + 2, size(cids)), "
                    "y -> struct(x AS cid_a, y AS cid_b))))"
                )
            ).alias("p")
        )
        .select("p.cid_a", "p.cid_b")
        .distinct()
    )


def _lsh_ctes() -> str:
    """CTE chain ending in ``pairs`` (cid_a, cid_b)."""
    rows_per_band = N_MINHASH // BANDS
    band_selects = []
    for band in range(BANDS):
        cols = [f"mh_{band * rows_per_band + r}" for r in range(rows_per_band)]
        concat = ", ',', ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT cid, {band} AS band, md5(concat({concat})) AS bkey FROM sig"
        )
    bands_sql = " UNION ALL ".join(band_selects)
    return (
        _minhash_ctes()
        + f""",
bands AS ({bands_sql}),
pairs AS (
  SELECT DISTINCT l.cid AS cid_a, r.cid AS cid_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bkey = r.bkey AND l.cid < r.cid
)"""
    )


def lsh_candidate_pairs_sql() -> str:
    return _lsh_ctes() + "\nSELECT * FROM pairs"


# --------------------------------------------------------------------------- #
# SimHash (32-bit)
# --------------------------------------------------------------------------- #

def simhash32(c: DataFrame) -> DataFrame:
    """(cid, simhash): per-bit token votes; bit j set iff sum over tokens of
    (2*bit_j(h(token)) - 1) > 0."""
    toks = c.select("cid", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    toks = toks.withColumn("h", phash60(F.col("tok")))
    bit_sums = toks.groupBy("cid").agg(
        *[
            F.sum(F.shiftright(F.col("h"), j) % 2 * 2 - 1).alias(f"b{j}")
            for j in range(32)
        ]
    )
    sim = None
    for j in range(32):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return bit_sums.select("cid", sim.cast("long").alias("simhash"))


def simhash32_sql() -> str:
    bit_sums = ",\n  ".join(
        f"sum(((h >> {j}) % 2) * 2 - 1) AS b{j}" for j in range(32)
    )
    sim = " + ".join(f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(32))
    return (
        CORPUS_SQL
        + f""",
toks AS (
  SELECT cid, {PHASH60_SQL("t.tok")} AS h
  FROM corpus, unnest(string_split(text, ' ')) AS t(tok)
),
bs AS (SELECT cid, {bit_sums} FROM toks GROUP BY cid)
SELECT cid, CAST({sim} AS BIGINT) AS simhash FROM bs"""
    )


# --------------------------------------------------------------------------- #
# n-gram Jaccard (near-dup verify)
# --------------------------------------------------------------------------- #

def ngram_jaccard_pairs(c: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for given (cid_a, cid_b) pairs — the verify
    step after LSH.  JVM-side set ops on shingle arrays."""
    sh = c.select(
        "cid", F.array_distinct(shingles(F.col("text"))).alias("sh")
    )
    return (
        pairs.join(sh.withColumnRenamed("cid", "cid_a").withColumnRenamed("sh", "sh_a"), "cid_a")
        .join(sh.withColumnRenamed("cid", "cid_b").withColumnRenamed("sh", "sh_b"), "cid_b")
        .select(
            "cid_a",
            "cid_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------- #
# token counting / quality / fingerprint / language stats
# --------------------------------------------------------------------------- #

def text_stats(c: DataFrame) -> DataFrame:
    """(cid, n_tokens, n_distinct_tokens, avg_token_len, stopword_ratio,
    distinct_ratio) — the quality-scoring feature set."""
    toks = F.split(F.col("text"), " ")
    distinct_toks = F.array_distinct(toks)
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(s) for s in STOPWORDS]))
    )
    return c.select(
        "cid",
        F.size(toks).alias("n_tokens"),
        F.size(distinct_toks).alias("n_distinct_tokens"),
        (
            F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
            / F.size(toks)
        ).alias("avg_token_len"),
        (stop_hits / F.size(toks)).alias("stopword_ratio"),
        (F.size(distinct_toks) / F.size(toks)).alias("distinct_ratio"),
    )


TEXT_STATS_SQL = (
    CORPUS_SQL
    + f""",
t AS (SELECT cid, string_split(text, ' ') AS toks FROM corpus)
SELECT cid,
  CAST(len(toks) AS INT) AS n_tokens,
  CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
  CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS avg_token_len,
  CAST(len(list_filter(toks, x -> x IN {STOPWORDS!r})) AS DOUBLE) / len(toks) AS stopword_ratio,
  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio
FROM t"""
)


def fingerprint(c: DataFrame, n: int = 8) -> DataFrame:
    """(cid, fingerprint): min 60-bit hash over all char 8-grams — the
    content fingerprint used for cheap near-identity checks."""
    sh = c.select("cid", F.explode(shingles(F.col("text"), n)).alias("s"))
    return sh.groupBy("cid").agg(F.min(phash60(F.col("s"))).alias("fingerprint"))


def fingerprint_sql(n: int = 8) -> str:
    return (
        CORPUS_SQL
        + f""",
sh AS (
  SELECT cid, {PHASH60_SQL(f"substr(text, CAST(g AS INT), {n})")} AS h
  FROM (
    SELECT cid, text,
           unnest(generate_series(1, greatest(length(text) - {n - 1}, 1))) AS g
    FROM corpus
  )
)
SELECT cid, min(h) AS fingerprint FROM sh GROUP BY cid"""
    )


# language-ID: characteristic character n-grams per language (public common
# trigram/bigram facts); CJK detected by code-point range.  Weights are small
# ints so both engines score in exact integer arithmetic.
LANG_NGRAMS: dict[str, tuple[tuple[str, int], ...]] = {
    "en": ((" the ", 3), ("ing ", 2), (" and ", 2), ("th", 1), ("he", 1)),
    "de": ((" der ", 3), (" und ", 3), ("sch", 2), ("ich", 2), ("ein", 1)),
    "fr": ((" les ", 3), (" est ", 2), ("que ", 2), ("ent ", 1), ("oux", 1)),
    "es": ((" los ", 3), (" que ", 2), ("ción", 3), ("ado ", 1), ("ñ", 2)),
}
CJK_RE = r"[一-鿿]"


def _lang_score(text: Column, lang: str) -> Column:
    """Integer n-gram score: sum over profile n-grams of count * weight.
    Counts via length delta under replace — pure JVM string ops."""
    score = F.lit(0)
    for ng, wt in LANG_NGRAMS[lang]:
        cnt = (
            (F.length(text) - F.length(F.replace(text, F.lit(ng), F.lit(""))))
            / len(ng)
        ).cast("int")
        score = score + cnt * F.lit(wt)
    return score


def lang_id(c: DataFrame) -> DataFrame:
    """Language-ID heuristic (first-class per the build brief): integer
    character-n-gram scoring against per-language profiles + a CJK
    code-point check; argmax with deterministic tie-break (higher score,
    then language code).  Zero UDFs — counts are length-delta string ops
    inside whole-stage codegen, so the operator streams map-side at any
    corpus scale.  'und' (undetermined) when nothing scores."""
    lower = F.lower(F.col("text"))
    scored = c.withColumn(
        "cjk_n", F.size(F.split(F.col("text"), CJK_RE)) - 1
    )
    entries = [
        F.struct(
            _lang_score(lower, lang).alias("score"), F.lit(lang).alias("lang")
        )
        for lang in sorted(LANG_NGRAMS)
    ]
    # zh: CJK chars are near-decisive — weight 5 per char
    entries.append(
        F.struct((F.col("cjk_n") * F.lit(5)).alias("score"), F.lit("zh").alias("lang"))
    )
    best = F.array_max(F.array(*entries))
    return scored.select(
        "cid",
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")).alias(
            "lang_pred"
        ),
        best["score"].alias("lang_score"),
    )


def lang_id_sql() -> str:
    """DuckDB twin of :func:`lang_id` — same integer scoring, same argmax
    tie-break (max_by over (score, lang) with lang DESC... matched to
    array_max struct ordering: score first, then lang lexicographic)."""
    parts = []
    for lang in sorted(LANG_NGRAMS) + ["zh"]:
        if lang == "zh":
            score = (
                "5 * CAST(length(text) - "
                f"length(regexp_replace(text, '{CJK_RE}', '', 'g')) AS INT)"
            )
        else:
            terms = [
                f"CAST((length(lower(text)) - length(replace(lower(text), '{ng}', ''))) // {len(ng)} AS INT) * {wt}"
                for ng, wt in LANG_NGRAMS[lang]
            ]
            score = " + ".join(terms)
        parts.append(f"SELECT cid, '{lang}' AS cand, {score} AS score FROM corpus")
    union = " UNION ALL ".join(parts)
    return (
        CORPUS_SQL
        + f""",
scores AS ({union}),
ranked AS (
  SELECT cid, cand, score,
    row_number() OVER (PARTITION BY cid ORDER BY score DESC, cand DESC) AS rn
  FROM scores
)
SELECT cid,
  CASE WHEN score > 0 THEN cand ELSE 'und' END AS lang_pred,
  CAST(score AS INT) AS lang_score
FROM ranked WHERE rn = 1"""
    )


def lang_stats(c: DataFrame) -> DataFrame:
    """Per-language corpus profile (relational agg over the lang label)."""
    return c.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.round(F.avg(F.size(F.split(F.col("text"), " "))), 2).alias("avg_tokens"),
    )


LANG_STATS_SQL = (
    CORPUS_SQL
    + """
SELECT lang, count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS total_chars,
       round(avg(len(string_split(text, ' '))), 2) AS avg_tokens
FROM corpus GROUP BY lang"""
)
