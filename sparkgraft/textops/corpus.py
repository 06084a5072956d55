"""textops.corpus — split from the flat textops.py (r7); operator bodies unchanged, see the package __init__."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..proofs import multisets_equal
from ..registry import key_root, query
from ..table import (
    MOR_DELETE_CLASS,
    commit_snapshot,
    head_files,
    is_delete_file,
    log_versions,
    mor_read,
    read_manifest,
    split_head_files,
    stage,
    stage_slices,
)



# Tokenized view shared by most operators: (doc_id, lang, token).
def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", F.explode(F.split(F.lower("text"), " ")).alias("token")
    )


@query(
    "text_wordcount",
    oracle="""
    SELECT token, count(*) AS cnt
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) t
    GROUP BY token
    """,
)
def text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE canonical Hadoop job. explode is map-side; the count is a
    partial+final aggregate — exactly mapper/combiner/reducer, declared."""
    return _tokens(spark, sf_dir).groupBy("token").agg(F.count("*").alias("cnt"))


@query(
    "text_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token, tf.tf,
           round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
    FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF, natural log pinned on both sides. The doc-frequency table
    grows with the corpus vocabulary (web text: typos, URLs, numbers →
    billions of distinct tokens at 100 TB), so it is joined back as a
    plain shuffle equi-join on ``token`` — never a forced broadcast.
    AQE's size-gated auto-broadcast still converts it map-side whenever
    the vocabulary is genuinely small, which is the only safe time."""
    tok = _tokens(spark, sf_dir)
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = load(spark, sf_dir, "documents").count()  # one scalar, driver-side
    return tf.join(df, "token").select(
        "doc_id",
        "token",
        "tf",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("tfidf"),
    )


@query(
    "text_ngrams",
    oracle="""
    SELECT lang, bigram, count(*) AS cnt FROM (
      SELECT lang,
             unnest(list_transform(range(1, len(string_split(lower(text), ' '))),
                                   i -> string_split(lower(text), ' ')[i] || ' ' ||
                                        string_split(lower(text), ' ')[i+1])) AS bigram
      FROM documents) t
    GROUP BY lang, bigram
    """,
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram counts per language — positional array construction, no
    self-join. Spark's transform lambda exposes the 0-based index; DuckDB
    subscripts are 1-based, aligned in the oracle."""
    d = load(spark, sf_dir, "documents")
    # Guard single-token docs: Spark's sequence(1, 0) counts DOWN instead
    # of returning empty, unlike DuckDB's range. The token array is
    # materialized behind a projection boundary first — inlining split()
    # into each element_at re-evaluates it per element (r4 fix: ~8× on
    # the 5-gram twin below).
    base = d.select("lang", F.split(F.lower("text"), " ").alias("toks"))
    bigrams = F.expr(
        "CASE WHEN size(toks) < 2 THEN array()"
        " ELSE transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) END"
    )
    return (
        base.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "text_lang_stats",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           round(avg(n_chars), 6) AS avg_chars,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@query(
    "text_inverted_index",
    oracle="""
    SELECT token,
           array_to_string(list(doc_id ORDER BY doc_id), '|') AS doc_ids,
           count(*) AS df
    FROM (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS token
          FROM documents) t
    GROUP BY token
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index canon: term → sorted posting list. Posting lists are
    bounded by doc count; at web scale the long tail is fine and hot terms
    would be delta-encoded downstream — the groupBy shape is unchanged.
    The posting list sorts as INTs (10 after 2), then the surface projects
    to a '|'-joined string for driver hashability."""
    return (
        _tokens(spark, sf_dir)
        .select("doc_id", "token")
        .distinct()
        .groupBy("token")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("doc_id")).cast("array<string>"), "|"
            ).alias("doc_ids"),
            F.count("*").alias("df"),
        )
    )


_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


@query(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, n_chars,
             string_split(lower(text), ' ') AS toks,
             len(string_split(lower(text), ' ')) AS n_tokens
      FROM documents)
    SELECT doc_id, n_tokens,
           n_chars // n_tokens AS avg_token_len_floor,
           len(list_filter(toks, x -> list_contains({_STOPWORDS}, x))) AS n_stop,
           len(list_filter(toks, x -> len(x) <= 2)) AS n_short,
           CASE WHEN n_tokens >= 20
                 AND len(list_filter(toks, x -> list_contains({_STOPWORDS}, x))) > 0
                THEN 'keep' ELSE 'flag' END AS verdict
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring for training-data filtering: token count,
    stopword presence, short-token count → keep/flag verdict. Integer
    features only — ratio thresholds stay exact across engines."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    stop = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop, x)))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (F.col("n_chars") / n_tokens).cast("long").alias("avg_token_len_floor"),
        n_stop.alias("n_stop"),
        F.size(F.filter(toks, lambda x: F.length(x) <= 2)).alias("n_short"),
        F.when((n_tokens >= 20) & (n_stop > 0), "keep").otherwise("flag").alias("verdict"),
    )


@query(
    "text_token_count",
    oracle=r"""
    SELECT doc_id,
           len(string_split(text, ' '))                  AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS re_tokens,
           length(text)                                  AS n_bytes
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex token
    class — the cheap pre-tokenizer cost estimate for LLM pipelines."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)).alias("re_tokens"),
        F.length("text").alias("n_bytes"),
    )


@query(
    "text_fingerprint",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
    SELECT doc_id,
           (list_aggregate(list_transform(range(1, len(toks) + 1),
                                          i -> ascii(toks[i]) * ((i - 1) % 64 + 1)),
                           'sum') % 1000000007)::BIGINT AS fingerprint
    FROM t
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-sensitive document fingerprint: Σ ascii(first char of
    token_i) × (i mod 64 + 1), mod p. Pure integer arithmetic → exact in
    any engine; order-sensitive, unlike a bag-of-words hash."""
    d = load(spark, sf_dir, "documents")
    weighted = F.expr(
        "transform(split(lower(text), ' '), (x, i) -> ascii(x) * (i % 64 + 1))"
    )
    return d.select(
        "doc_id",
        (F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, x: acc + x) % 1000000007)
        .alias("fingerprint"),
    )


@query(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN len(list_filter(string_split(lower(text), ' '),
                                     x -> list_contains({_STOPWORDS}, x))) * 10
                     >= len(string_split(lower(text), ' '))
                THEN 'en' ELSE 'other' END AS lang_guess
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-ish language ID heuristic: English stopword density ≥ 10% →
    'en'. (A real system compares per-language profile sets; the plumbing
    — token filter, density, argmax-by-threshold — is what scales.)"""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    stop = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop, x)))
    return d.select(
        "doc_id",
        "lang",
        F.when(n_stop * 10 >= F.size(toks), "en").otherwise("other").alias("lang_guess"),
    )


# ---------------------------------------------------------------------------
# Deduplication family
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_docs",
    oracle="""
    SELECT sha256(lower(trim(text))) AS text_hash,
           min(doc_id)  AS keeper,
           count(*)     AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized content hash — groupBy on the digest, so
    the shuffle moves 32-byte keys, not documents. keeper = min(doc_id)
    makes the survivor deterministic."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2(F.lower(F.trim("text")), 256).alias("text_hash"))
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies"))
    )


# MinHash parameters: k = BANDS × ROWS_PER_BAND hash functions.
_MINHASH_BANDS = 4
_MINHASH_ROWS = 4
_SHINGLE_W = 3  # word-shingle width

# Engine-mirrorable 60-bit string hash (r9, the discipline that converted
# the LSH family's rows-only keys to hash-checked): the low 15 hex chars
# of md5 parsed as an integer — md5 is bit-identical across engines, 15
# hex chars < 2^60 always fit a signed int64, and both parse forms below
# were verified byte-equal on ASCII, unicode, and empty strings. k
# independent functions come from folding a seed prefix 'i:' into the
# hashed text (the same fold the xxhash64 version used).
_MD5_60_SPARK = "cast(conv(substring(md5({x}), 18, 15), 16, 10) as bigint)"
_MD5_60_DUCK = "('0x' || substring(md5({x}), 18, 15))::BIGINT"


def _shingles(df: DataFrame) -> DataFrame:
    """(doc_id, shingle) — distinct w-word shingles per document. The
    token array is projected out first so split() runs once per row, not
    once per shingle position (r4 fix, see text_dup_ngram_coverage)."""
    base = df.select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    sh = F.expr(
        f"transform(sequence(1, greatest(size(toks) - {_SHINGLE_W - 1}, 1)),"
        f" i -> array_join(slice(toks, i, {_SHINGLE_W}), ' '))"
    )
    return base.select("doc_id", F.explode(sh).alias("shingle")).distinct()


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """One row per doc: minhash_0..minhash_{k-1} (k = bands × rows).

    Hash family (r9): md5-slice('i:' ‖ shingle) — k independent functions
    from one ENGINE-MIRRORABLE primitive by folding the seed into the
    hash input (`_MD5_60_SPARK`/`_MD5_60_DUCK`; formerly xxhash64, which
    no oracle engine could recompute). The k mins are computed in ONE
    groupBy pass (k partial-min aggregates), not k passes."""
    k = _MINHASH_BANDS * _MINHASH_ROWS
    sh = _shingles(docs)
    aggs = [
        F.min(
            F.expr(_MD5_60_SPARK.format(x=f"concat('{i}:', shingle)"))
        ).alias(f"mh_{i}")
        for i in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def band_keys(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) — one LSH bucket key per (doc, band),
    band_key = that band's minhash rows joined as a canonical decimal
    CSV (r9: was xxhash64 of the columns — the literal value string is
    just as bucket-able, needs no engine hash, and the DuckDB oracle
    reproduces it with string_agg ORDER BY i). Shared by the candidate
    pair generator (dedup_near_minhash) and with_candidate_key."""
    # 4-way union, one branch per band, sharing the minhash exchange.
    # An explode-based one-pass form (array of (band, band_key) structs)
    # was tried in r13 and MEASURED 3x SLOWER at sf0.1 on the minhash
    # consumers (dedup_near_minhash 1.9 -> 5.6 s, dedup_near_incremental
    # 2.6 -> 5.8 s): the Generate node blocks whole-stage codegen around
    # the final aggregate and re-materializes the 16-column signature
    # row per band, while the union branches each run a cheap final
    # HashAggregate over the SAME reused shuffle (guide §1.1 — the
    # "ideal" one-pass plan lost to the measured one; keep the union).
    bands = []
    for b in range(_MINHASH_BANDS):
        cols = [
            F.col(f"mh_{b * _MINHASH_ROWS + r}")
            for r in range(_MINHASH_ROWS)
        ]
        bands.append(
            sigs.select(
                "doc_id",
                F.lit(b).alias("band"),
                F.concat_ws(",", *cols).alias("band_key"),
            )
        )
    bucketed = bands[0]
    for other in bands[1:]:
        bucketed = bucketed.unionByName(other)
    return bucketed


def _minhash_oracle() -> str:
    k = _MINHASH_BANDS * _MINHASH_ROWS
    h = _MD5_60_DUCK.format(x="s.i::VARCHAR || ':' || shingle")
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               range(1, greatest(len(t) - {_SHINGLE_W - 1}, 1) + 1),
               i -> array_to_string(t[i:i+{_SHINGLE_W - 1}], ' '))) AS shingle
      FROM toks),
    mins AS MATERIALIZED (
      SELECT doc_id, s.i, min({h}) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(0, {k})) AS i) s
      GROUP BY doc_id, s.i),
    bands AS MATERIALIZED (
      SELECT doc_id, i // {_MINHASH_ROWS} AS band,
             string_agg(mh::VARCHAR, ',' ORDER BY i) AS band_key
      FROM mins GROUP BY doc_id, i // {_MINHASH_ROWS})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    """


@query("dedup_near_minhash", oracle=_minhash_oracle())
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via MinHash-LSH banding.

    Pipeline: shingle → k minhashes (one pass) → band keys → groupBy band
    → pairs within buckets only. The O(n²) pair space is never formed;
    work is proportional to bucket sizes. Invariant-tested: every exact
    duplicate pair must surface as a candidate (tests/test_invariants.py).

    HASH-CHECKED since r9 (was rows-only through r8): the hash family
    moved from engine-private xxhash64 onto the md5-slice primitive
    (`_MD5_60_SPARK`, bit-identical in any engine), and the band key is
    the band's minhash values themselves (canonical decimal CSV) rather
    than a second engine hash — so the ORACLE above recomputes the whole
    pipeline (shingles → k mins → band CSV → bucket join → distinct
    pairs) and parity is exact on any corpus, the r8
    `dedup_embedding_cosine` discipline applied to MinHash. The banding
    math is unchanged: P(candidate) = 1 − (1 − j^rows)^bands on Jaccard
    similarity j, and exact duplicates still collide in every band."""
    bucketed = band_keys(minhash_signatures(load(spark, sf_dir, "documents")))
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return pairs


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents),
    size_ AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS overlap
      FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT i.doc_a, i.doc_b, i.overlap,
           round(i.overlap * 1.0 / (sa.n + sb.n - i.overlap), 6) AS jaccard
    FROM inter i
    JOIN size_ sa ON i.doc_a = sa.doc_id
    JOIN size_ sb ON i.doc_b = sb.doc_id
    WHERE i.overlap * 1.0 / (sa.n + sb.n - i.overlap) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard ≥ 0.6 pairs via set-level deduplication.

    A near-dup corpus has far fewer distinct token SETS than documents
    (3,935 vs 5,000 at sf0.1), and identical sets pair at jaccard 1.0
    without any comparison — so work runs over distinct sets only, and
    doc pairs are expanded afterwards.

    Candidate generation is PREFIX FILTERING (the AllPairs/PPJoin
    family, Bayardo et al. WWW'07): under any fixed total order on
    tokens, two sets with Jaccard ≥ τ must share at least one token
    among the first n − ⌈τ·n⌉ + 1 tokens of each (their required
    overlap is ≥ ⌈τ·n⌉ given the size bound |A| ≥ τ|B|, so disjoint
    prefixes would leave too few tokens to reach it). Ordering tokens
    by ascending document frequency makes prefixes maximally rare, so
    candidates come from a plain shuffle EQUI-join on the prefix token
    — exact (zero false negatives), skew-resistant, and with NO
    corpus-proportional broadcast anywhere in the plan (plan-asserted
    in tests/test_plans.py). The naive token-join alternative explodes
    on high-frequency tokens (every stopword contributes df² pairs);
    prefix filtering is exactly the published fix and is the shape
    that survives 100 TB. `dedup_ngram_jaccard_sampled` is the
    routine-runnable form; this full pass is the verification baseline.
    """
    # Tokens become 64-bit hashes immediately: set comparisons downstream
    # are long-array ops, not string ops (collision odds are negligible
    # and only affect a rows-only-invisible intersect count).
    return _jaccard_pairs_ppjoin(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )


def _jaccard_pairs_ppjoin(docs: DataFrame, tau: float = 0.6) -> DataFrame:
    """Shared PPJoin core: documents frame (doc_id, text) → exact
    Jaccard ≥ τ doc pairs. See `dedup_ngram_jaccard` for the algorithm
    argument; `dedup_ngram_jaccard_sampled` runs the identical plan over
    the deterministic 1/16 doc sample.

    r12 (the r11 verdict's ask #7, 20 s → <10 s at sf0.1 with the
    oracle unchanged):
    - tokenize ROW-LOCALLY: `array_distinct(transform(split, xxhash64))`
      builds each doc's sorted distinct-token-hash array with ZERO
      shuffles where the old explode→distinct→collect_set path paid two.
    - DENSE-VOCABULARY KERNEL, picked adaptively: when the distinct
      token count V (a bounded driver scalar, read off the df table the
      prefix computation needs anyway) fits one machine word (V ≤ 63),
      prefix filtering loses its selectivity by construction — every
      set's prefix draws from the same handful of tokens, the prefix
      join's key space collapses to V values (this corpus: 31), and the
      old plan's candidate `distinct` ran as ONE skewed task
      partial-aggregating a 20.5M-row stage (measured: 12 of the 20 s).
      The kernel is the published bitmap fix: rank the V tokens by
      ascending df, give every set a token BITMASK and a PREFIX
      bitmask, and emit each candidate pair exactly once by matching
      only on the pair's FIRST shared prefix token (`pmask_a ∧ pmask_b`
      below the match's rank must be empty) — the dedup disappears from
      the plan entirely (PPJoin's positional filter provably admits the
      first shared token of every true pair, so this drops only false
      candidates; the r12 preflight hash re-proves it at all SFs).
      Verification is `bit_count(fmask_a ∧ fmask_b)` — exact set
      intersection as one codegen integer op, no array payloads through
      the verify shuffle.
    - a REAL vocabulary (V > 63) takes the general array path below,
      unchanged: there prefix tokens are rare by construction, the
      candidate join is balanced, and the bitmask would need multi-word
      arrays for no skew to fix."""
    from pyspark.sql import Window

    docsets = docs.select(
        "doc_id",
        F.sort_array(
            F.array_distinct(
                F.transform(
                    F.split(F.lower("text"), " "), lambda t: F.xxhash64(t)
                )
            )
        ).alias("toks"),
    )
    sets = (
        docsets.groupBy("toks")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
        .withColumn("n", F.size("toks"))
        # Scalar surrogate for "set identity" — orders the pair space with
        # one long compare instead of an array compare per candidate.
        .withColumn("skey", F.xxhash64("toks"))
        # MATERIALIZE the distinct-sets table once: it feeds five plan
        # references (prefix explode, df counts, both verify join-backs,
        # within-group pairs). At 100 TB this is the standard two-phase
        # shape: persist the distinct-sets table, then join against it.
        .localCheckpoint()
    )

    # Prefix-filtered candidates: explode each distinct set's rarest
    # n − ⌈τ·n⌉ + 1 tokens (ascending-df order), equi-join on the token,
    # prune by the exact size-ratio bound, verify survivors with the
    # real intersection. Every join below is a shuffle equi-join keyed
    # on bounded-cardinality columns — nothing scales with corpus size
    # except partition counts.
    stok = sets.select("skey", "n", F.explode("toks").alias("tok"))
    tok_df = stok.groupBy("tok").agg(F.count("*").alias("df"))
    n_vocab = tok_df.count()  # bounded scalar: the distinct-token count
    dense = n_vocab <= 63

    pos_w = Window.partitionBy("skey").orderBy("df", "tok")
    prefix_len = F.col("n") - F.ceil(F.lit(tau) * F.col("n")) + 1
    if dense:
        # global ascending-df rank of the ≤63 tokens (bounded broadcast)
        tok_rank = F.broadcast(
            tok_df.withColumn(
                "rank", F.row_number().over(Window.orderBy("df", "tok"))
            )
        )
        pre = (
            stok.join(tok_rank, "tok")
            .withColumn("pos", F.row_number().over(pos_w))
            .filter(F.col("pos") <= prefix_len)
            .select("skey", "n", "tok", "pos", "rank")
        )
        pmask = pre.groupBy("skey").agg(
            F.sum(F.expr("shiftleft(1L, rank - 1)")).alias("pmask")
        )
        fmask = (
            stok.join(tok_rank, "tok")
            .groupBy("skey")
            .agg(F.sum(F.expr("shiftleft(1L, rank - 1)")).alias("fmask"))
        )
        prefix = pre.join(pmask, "skey").localCheckpoint()
        vsets = sets.join(fmask, "skey").select(
            "skey", "n", "fmask", "doc_ids"
        ).localCheckpoint()
    else:
        prefix = (
            stok.join(tok_df, "tok")
            .withColumn("pos", F.row_number().over(pos_w))
            .filter(F.col("pos") <= prefix_len)
            .select("skey", "n", "tok", "pos")
        )
        vsets = sets

    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    na, nb = F.col("pa.n"), F.col("pb.n")
    cond = (
        (F.col("pa.tok") == F.col("pb.tok"))
        & (F.col("pa.skey") < F.col("pb.skey"))
        & (na * F.lit(1.0) >= tau * nb)
        & (nb * F.lit(1.0) >= tau * na)
        # PPJoin positional filter: a match at positions (i, j) caps
        # the overlap at 1 + min(n_a - i, n_b - j); a true pair's
        # FIRST shared token (provably inside both prefixes, since
        # overlap ≥ τ·max(n_a, n_b)) always satisfies the bound, so
        # this prunes ~half the raw matches with zero false negatives
        # (Xiao et al., WWW'08).
        & (
            F.lit(1.0) + F.least(na - F.col("pa.pos"), nb - F.col("pb.pos"))
            >= F.lit(tau / (1.0 + tau)) * (na + nb)
        )
    )
    if dense:
        # first-shared-prefix-token match: emits each pair exactly once
        cand = pa.join(
            pb.hint("shuffle_hash"),
            cond
            & (
                F.expr(
                    "pa.pmask & pb.pmask & (shiftleft(1L, pa.rank - 1) - 1L)"
                )
                == 0
            ),
        ).select(
            F.col("pa.skey").alias("skey_a"), F.col("pb.skey").alias("skey_b")
        )
    else:
        cand = (
            pa.join(pb, cond)
            .select(
                F.col("pa.skey").alias("skey_a"),
                F.col("pb.skey").alias("skey_b"),
            )
            .distinct()
        )

    if dense:
        sa = vsets.select(
            F.col("skey").alias("skey_a"),
            F.col("fmask").alias("fmask_a"),
            F.col("n").alias("n_a"),
            F.col("doc_ids").alias("ids_a"),
        )
        sb = vsets.select(
            F.col("skey").alias("skey_b"),
            F.col("fmask").alias("fmask_b"),
            F.col("n").alias("n_b"),
            F.col("doc_ids").alias("ids_b"),
        )
        overlap = F.bit_count(
            F.col("fmask_a").bitwiseAND(F.col("fmask_b"))
        ).cast("long")
    else:
        sa = vsets.select(
            F.col("skey").alias("skey_a"),
            F.col("toks").alias("toks_a"),
            F.col("n").alias("n_a"),
            F.col("doc_ids").alias("ids_a"),
        )
        sb = vsets.select(
            F.col("skey").alias("skey_b"),
            F.col("toks").alias("toks_b"),
            F.col("n").alias("n_b"),
            F.col("doc_ids").alias("ids_b"),
        )
        overlap = F.size(F.array_intersect("toks_a", "toks_b")).cast("long")
    cross = (
        # Verify join-backs ride SHUFFLE-HASH joins: sort-merge would
        # range-sort millions of candidate rows (and re-sort the array-
        # carrying intermediate) just to probe a narrow per-partition
        # hash map of set metadata. Hash build side is the sets table
        # partition slice — bounded by partition count, never sorted.
        cand.join(sa.hint("shuffle_hash"), "skey_a")
        .join(sb.hint("shuffle_hash"), "skey_b")
        .withColumn("overlap", overlap)
        .withColumn(
            "jaccard",
            F.col("overlap") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("overlap")),
        )
        .filter(F.col("jaccard") >= tau)
        .select(F.explode("ids_a").alias("id_a"), "ids_b", "overlap", "jaccard")
        .select("id_a", F.explode("ids_b").alias("id_b"), "overlap", "jaccard")
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            "overlap",
            F.round("jaccard", 6).alias("jaccard"),
        )
    )

    # Identical sets: every in-group pair is a dup at jaccard exactly 1.
    within = (
        sets.filter(F.size("doc_ids") >= 2)
        .select("n", F.explode("doc_ids").alias("id_a"), F.col("doc_ids"))
        .select("n", "id_a", F.explode("doc_ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.col("n").cast("long").alias("overlap"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


# Deterministic 1/16 doc sample for the routine-runnable lexical-dup
# audit: every 16th doc_id — pure modular arithmetic (the
# sim_pair_histogram_sampled idiom), identical in any engine, applied to
# the documents scan BEFORE tokenization so everything downstream (token
# explode, set grouping, prefix join) shrinks 16×; the candidate pair
# space shrinks ~256×. A 1/256-of-pairs dup-rate estimate is what a
# daily corpus-health check needs — the full exact key stays as the
# verification baseline.
_DOC_SAMPLE_MOD = 16
_DOC_SAMPLE_SQL = f"doc_id % {_DOC_SAMPLE_MOD} = 0"


@query(
    "dedup_ngram_jaccard_sampled",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents WHERE {_DOC_SAMPLE_SQL}),
    size_ AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS overlap
      FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT i.doc_a, i.doc_b, i.overlap,
           round(i.overlap * 1.0 / (sa.n + sb.n - i.overlap), 6) AS jaccard
    FROM inter i
    JOIN size_ sa ON i.doc_a = sa.doc_id
    JOIN size_ sb ON i.doc_b = sb.doc_id
    WHERE i.overlap * 1.0 / (sa.n + sb.n - i.overlap) >= 0.6
    """,
)
def dedup_ngram_jaccard_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_ngram_jaccard` over the deterministic 1/16 doc sample —
    the form you actually schedule at 100 TB. The full exact audit is
    the heaviest dedup bench key (~7 s at sf0.1 since the r12 dense
    kernel; 20 s before it) and is output-bound (7.1M pairs at sf0.1);
    a routine lexical dup-rate health check doesn't need every pair, it
    needs an unbiased estimate, and a uniform 1/16 row sample estimates
    the pair-dup rate at 1/256 of the candidate volume. The sample
    predicate is plain modular arithmetic on doc_id fused into the
    documents scan (everything downstream shrinks with it), mirrored
    verbatim in the oracle so the key stays HASH-CHECKED: the surviving
    pairs are exactly the full key's pairs whose BOTH endpoints sample
    in. Same PPJoin plan, zero corpus-proportional broadcast."""
    return _jaccard_pairs_ppjoin(
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _DOC_SAMPLE_MOD == 0)
        .select("doc_id", "text")
    )


# SimHash geometry: 64 signature bits = 60 from the md5 low slice + 4
# from the high slice (15 hex chars each keep every parsed value < 2^60,
# inside int64 on both engines — the _MD5_60 envelope).
_SIMHASH_BITS = 64
_SIMHASH_BAND_BITS = 16
_MD5_60_HI_SPARK = "cast(conv(substring(md5({x}), 2, 15), 16, 10) as bigint)"
_MD5_60_HI_DUCK = "('0x' || substring(md5({x}), 2, 15))::BIGINT"


def _simhash_bit_src(i: int, lo: str = "h_lo", hi: str = "h_hi") -> tuple[str, int]:
    """(column, shift) supplying signature bit i: bits 0-59 from the low
    md5 slice, 60-63 from the high slice — identical on both engines."""
    return (lo, i) if i < 60 else (hi, i - 60)


def _simhash_oracle() -> str:
    n_bands = _SIMHASH_BITS // _SIMHASH_BAND_BITS
    bit_sums = ",\n             ".join(
        "sum(CASE WHEN ({c} >> {s}) & 1 = 1 THEN 1 ELSE -1 END) AS bit_{i}".format(
            c=(src := _simhash_bit_src(i))[0], s=src[1], i=i
        )
        for i in range(_SIMHASH_BITS)
    )
    band_cols = ",\n             ".join(
        "("
        + " + ".join(
            f"(CASE WHEN bit_{nb * _SIMHASH_BAND_BITS + i} > 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i in range(_SIMHASH_BAND_BITS)
        )
        + f") AS band_{nb}"
        for nb in range(n_bands)
    )
    bucketed = "\n      UNION ALL ".join(
        f"SELECT doc_id, {nb} AS band, band_{nb} AS key FROM keys_"
        for nb in range(n_bands)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents),
    h AS MATERIALIZED (
      SELECT doc_id,
             {_MD5_60_DUCK.format(x='token')} AS h_lo,
             {_MD5_60_HI_DUCK.format(x='token')} AS h_hi
      FROM tok),
    sig AS MATERIALIZED (
      SELECT doc_id,
             {bit_sums}
      FROM h GROUP BY doc_id),
    keys_ AS MATERIALIZED (
      SELECT doc_id,
             {band_cols}
      FROM sig),
    bucketed AS MATERIALIZED (
      {bucketed})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bucketed a JOIN bucketed b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document + banded-LSH candidate pairs.

    Each bit b of the signature is sign(Σ_tokens ±1) where the ± comes
    from bit b of the token's hash — all 64 bits computed as conditional-
    sum aggregates in ONE pass over the tokens. Candidates = pairs
    sharing any of the 4 16-bit bands (Hamming-distance LSH). Band width
    sets the bucket count (2^16 per band), which is what keeps buckets —
    and therefore the within-bucket pair blow-up — small as the corpus
    grows; a 16-bit signature with 4-bit bands degenerates to ~all-pairs
    at merely thousands of documents.

    HASH-CHECKED since r9 (was rows-only through r8): the per-token bit
    source moved from engine-private xxhash64 onto TWO md5 slices
    (`_MD5_60_SPARK` low 60 bits + `_MD5_60_HI_SPARK` for bits 60-63 —
    both exact int64 parses of md5 hex, bit-identical in any engine), so
    the ORACLE recomputes the whole pipeline — token hashes, 64 ±1 sums,
    sign bits (ties at Σ=0 fall to 0 on both sides: exact integers, same
    `> 0` predicate), 16-bit band keys, bucket join, distinct pairs —
    and parity is exact on any corpus; the r8 `dedup_embedding_cosine`
    discipline applied to SimHash."""
    n_bits, band_bits = _SIMHASH_BITS, _SIMHASH_BAND_BITS
    n_bands = n_bits // band_bits
    tok = _tokens(spark, sf_dir).select("doc_id", "token")
    hashed = tok.select(
        "doc_id",
        F.expr(_MD5_60_SPARK.format(x="token")).alias("h_lo"),
        F.expr(_MD5_60_HI_SPARK.format(x="token")).alias("h_hi"),
    )
    bit_aggs = []
    for i in range(n_bits):
        col, shift = _simhash_bit_src(i)
        bit_aggs.append(
            F.sum(
                F.when(
                    F.shiftright(F.col(col), shift).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"bit_{i}")
        )
    sig = hashed.groupBy("doc_id").agg(*bit_aggs)
    band_keys = [
        sum(
            (
                F.when(F.col(f"bit_{nb * band_bits + i}") > 0, F.lit(2**i)).otherwise(0)
                for i in range(band_bits)
            ),
            F.lit(0),
        ).alias(f"band_{nb}")
        for nb in range(n_bands)
    ]
    bucketed = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(nb).alias("band"), band_keys[nb].alias("key"))
                    for nb in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@query(
    "dedup_cluster_cc",
    oracle="""
    WITH RECURSIVE tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents),
    size_ AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS overlap
      FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN size_ sa ON i.doc_a = sa.doc_id
      JOIN size_ sb ON i.doc_b = sb.doc_id
      WHERE i.overlap * 1.0 / (sa.n + sb.n - i.overlap) >= 0.6),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs),
    walk(doc_id, reach) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON w.reach = e.src)
    SELECT doc_id, min(reach) AS canonical_id FROM walk GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the exact
    Jaccard ≥ 0.6 pair graph (`dedup_ngram_jaccard` edges), each document
    labeled with the min doc_id of its component — the "pick one canonical
    copy per dup cluster" step of a training-data pipeline, which pairwise
    dedup alone cannot express (dup pairs chain transitively).

    Components come from alternating large-star/small-star contraction
    (`graph.connected_components`, Kiveris et al. SoCC 2014): O(log n)
    rounds regardless of component diameter — the r4 min-label
    propagation was O(diameter) rounds, which chain-shaped dup families
    make deep at 100 TB. Each round is two keyed aggregations + two
    equi-joins on doc ids with `localCheckpoint` lineage truncation;
    only scalar convergence counts reach the driver. The oracle walks
    reachability with a recursive CTE — min(reachable) is exactly the
    component minimum."""
    from ..catalog import load as _load
    from ..graph import connected_components

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    vertices = _load(spark, sf_dir, "documents").select("doc_id")
    labels, _rounds = connected_components(
        pairs, vertices, id_col="doc_id", label_col="canonical_id"
    )
    return labels.orderBy("doc_id")


@query(
    "text_corpus_pipeline",
    oracle="""
    WITH keepers AS (
      SELECT min(doc_id) AS doc_id
      FROM documents
      GROUP BY sha256(lower(trim(text))))
    SELECT d.lang,
           count(*)                  AS n_docs_kept,
           round(avg(d.n_chars), 6)  AS avg_chars,
           round(sum(length(string_split(d.text, ' ')))
                 * 1.0 / count(*), 6) AS avg_tokens
    FROM documents d
    JOIN keepers k ON d.doc_id = k.doc_id
    WHERE d.n_chars >= 120
    GROUP BY d.lang
    ORDER BY d.lang
    """,
)
def text_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation, composed from this module's
    own operators: exact dedup (`dedup_exact_docs` keepers — the
    normalized-hash survivors) -> quality gate (length floor) ->
    per-language corpus stats with a whitespace token count. One
    composite query proving the operators chain the way a real pipeline
    uses them; every stage stays a shuffle-aware DataFrame program, so
    the composition inherits the scale posture of its parts. (The
    harsher near-dup purge is its own operator chain:
    `dedup_ngram_jaccard` -> `dedup_cluster_cc`, which at jaccard 0.6
    collapses this synthetic word-salad corpus to ~8% of its docs.)"""
    d = load(spark, sf_dir, "documents")
    keepers = dedup_exact_docs(spark, sf_dir).select(
        F.col("keeper").alias("doc_id")
    )
    kept = d.join(keepers, "doc_id").filter(F.col("n_chars") >= 120)
    tokens = F.size(F.split("text", " "))
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.round(F.sum(tokens) / F.count("*"), 6).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


_DUP_PREFIX_LEN = 60  # the corpus's built-in dup structure (FIXTURES.md);
# oracle SQL pairs with this as a literal `substr(text, 1, 60)`


def with_candidate_key(d: DataFrame, method: str = "prefix") -> DataFrame:
    """Attach the near-dup candidate bucket key ``ckey`` to each document
    — the composition point for everything downstream that needs "docs
    that might be duplicates share a key": keep-best dedup partitions on
    it, edit-distance verification equi-joins on it.

    - ``"prefix"`` (default): the corpus's built-in 60-char-prefix dup
      structure — deterministic, exactly ONE key per doc, expressible in
      the DuckDB oracle, so the hash-graded registered queries use it.
    - ``"minhash_band"``: MinHash-LSH band keys (the same generator
      dedup_near_minhash buckets with) — the content-defined candidate
      source that holds at 100 TB where no prefix structure exists;
      emits one row per (doc, band). Pair-generation consumers compose
      unchanged (equi-join on ckey + distinct); rank-based consumers
      must aggregate over a doc's buckets (keep iff best in EVERY
      bucket). Invariant-tested: exact duplicates always share a ckey
      under both methods (tests/test_textops.py).
    """
    if method == "prefix":
        return d.withColumn("ckey", F.substring("text", 1, _DUP_PREFIX_LEN))
    if method == "minhash_band":
        keys = band_keys(minhash_signatures(d)).select(
            "doc_id", F.concat_ws(":", "band", "band_key").alias("ckey")
        )
        return d.join(keys, "doc_id")
    raise ValueError(f"unknown candidate-key method: {method!r}")


@query(
    "dedup_keep_best",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY substr(text, 1, 60)
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    ) t
    WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup: within each near-dup cluster (shared
    candidate key, default = the corpus's prefix structure) keep the
    LONGEST document, ties to the lowest doc_id — the "pick the best
    copy, not an arbitrary one" curation step that plain keeper=min(id)
    dedup (`dedup_exact_docs`) cannot express. One window over the
    cluster key; the shuffle carries only (ckey, len, id), and a
    pre-aggregated max_by form drops the window entirely if clusters
    ever skew. Swap with_candidate_key(..., "minhash_band") to run the
    same shape over content-defined LSH buckets at scale."""
    from pyspark.sql import Window

    d = with_candidate_key(load(spark, sf_dir, "documents"))
    w = Window.partitionBy("ckey").orderBy(F.desc("n_chars"), "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "text_edit_distance",
    oracle="""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.text, b.text) AS edit_dist,
           (levenshtein(a.text, b.text) * 100)
             // greatest(len(a.text), len(b.text)) AS dist_pct_floor
    FROM documents a
    JOIN documents b
      ON substr(a.text, 1, 60) = substr(b.text, 1, 60)
     AND a.doc_id < b.doc_id
    """,
)
def text_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of near-dup CANDIDATES: Levenshtein is
    O(len²) per pair, so it must never run all-pairs — here it scores
    only pairs that share a candidate key (with_candidate_key; default =
    the corpus's prefix structure, and the identical code path runs over
    MinHash-LSH band keys at scale — tests/test_textops.py exercises
    that composition). The candidate join is a plain equi-join on the
    key; integer percent (floor) keeps the ratio exact across
    engines."""
    d = with_candidate_key(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(F.col("a.text"), F.col("b.text"))
    return (
        a.join(
            b,
            (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("edit_dist"),
            (
                (dist * 100)
                / F.greatest(F.length("a.text"), F.length("b.text"))
            ).cast("long").alias("dist_pct_floor"),
        )
    )


@query(
    "text_training_mix",
    oracle="""
    WITH quality AS (
      SELECT doc_id, text, lang, n_chars,
             len(string_split(lower(text), ' ')) AS n_tokens
      FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 20
    ),
    dedup AS (
      SELECT doc_id, lang, n_chars, n_tokens,
             row_number() OVER (PARTITION BY substr(text, 1, 60)
                                ORDER BY n_chars DESC, doc_id) AS dup_rn
      FROM quality
    ),
    capped AS (
      SELECT doc_id, lang, n_chars, n_tokens,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id) AS lang_rn
      FROM dedup WHERE dup_rn = 1
    )
    SELECT lang,
           count(*)              AS n_docs,
           sum(n_chars)::BIGINT  AS total_chars,
           sum(n_tokens)::BIGINT AS total_tokens,
           min(n_chars)          AS min_chars
    FROM capped
    WHERE lang_rn <= 50
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-set assembly — the composite every stage above
    exists for: quality gate (≥ 20 tokens) → keep-best dedup (longest doc
    per 60-char-prefix cluster) → per-language cap (top-50 by length,
    curriculum-style) → per-language manifest (doc/char/token budget).
    Every stage is a narrow filter or a window over a bounded partition
    key; nothing materializes between stages — Catalyst pipelines the
    whole thing into two window shuffles plus the final 5-row aggregate,
    which is exactly the plan you'd want over 100 TB of documents."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.lower("text"), " "))
    quality = d.select(
        "doc_id", "text", "lang", "n_chars", n_tokens.alias("n_tokens")
    ).filter(F.col("n_tokens") >= 20)
    w_dup = Window.partitionBy(F.substring("text", 1, 60)).orderBy(
        F.desc("n_chars"), "doc_id"
    )
    dedup = quality.withColumn("dup_rn", F.row_number().over(w_dup)).filter(
        F.col("dup_rn") == 1
    )
    w_lang = Window.partitionBy("lang").orderBy(F.desc("n_chars"), "doc_id")
    capped = dedup.withColumn("lang_rn", F.row_number().over(w_lang)).filter(
        F.col("lang_rn") <= 50
    )
    return (
        capped.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("n_chars").alias("min_chars"),
        )
        .orderBy("lang")
    )


@query(
    "text_decontaminate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
                 range(1, len(t) - 3),
                 i -> array_to_string(t[i:i+4], ' ')))) AS ng
      FROM toks WHERE len(t) >= 5)
    SELECT t.doc_id,
           count(DISTINCT t.ng)::BIGINT     AS shared_ngrams,
           count(DISTINCT b.doc_id)::BIGINT AS n_bench_docs
    FROM g t
    JOIN g b ON t.ng = b.ng
    WHERE b.doc_id % 97 = 0 AND t.doc_id % 97 <> 0
    GROUP BY t.doc_id
    HAVING count(DISTINCT t.ng) >= 3
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing >= 3 distinct
    5-grams with the held-out benchmark set (doc_id % 97 == 0 stands in
    for a fixed eval suite). Both sides explode to distinct (doc, ngram)
    pairs and meet in one equi-join on the ngram — shuffle-bounded,
    never all-pairs, so it scales like wordcount rather than O(n^2).
    At 100 TB the bench side is a fixed small table -> broadcast join."""
    d = load(spark, sf_dir, "documents")
    # toks behind a projection boundary: split once per row, not once
    # per shingle position inside the transform lambda (r4 fix class,
    # see text_dup_ngram_coverage).
    base = d.select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    toks = F.col("toks")
    ngrams = F.when(
        F.size(toks) >= 5,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 4),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 5)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = base.select("doc_id", F.explode(F.array_distinct(ngrams)).alias("ng"))
    bench = pairs.filter(F.col("doc_id") % 97 == 0).withColumnRenamed("doc_id", "bench_id")
    train = pairs.filter(F.col("doc_id") % 97 != 0)
    return (
        train.join(bench, "ng")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("ng").alias("shared_ngrams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
        .filter(F.col("shared_ngrams") >= 3)
    )


_PACK_BUDGET = 512  # tokens per packed training sequence


@query(
    "text_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             len(string_split(lower(text), ' '))::BIGINT AS n_tokens
      FROM documents),
    cum AS (
      SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS cum_before
      FROM toks),
    packed AS (
      SELECT lang, n_tokens,
             (COALESCE(cum_before, 0) // {_PACK_BUDGET})::BIGINT AS seq_id
      FROM cum)
    SELECT lang, seq_id,
           count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS seq_tokens
    FROM packed
    GROUP BY lang, seq_id
    ORDER BY lang, seq_id
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing — the step that turns a curated corpus into
    fixed-budget training sequences: docs are laid out in a deterministic
    order (doc_id) within each shard key (lang) and assigned to sequence
    slots by their running token offset (slot = floor(offset/budget), so
    docs straddle boundaries exactly like a real packer's byte offsets).
    The manifest aggregates docs and tokens per slot.

    Scale shape: the running sum partitions by the shard key — there is
    NO global window; a 100 TB run packs within shards in parallel,
    which is how production packers shard anyway. Two keyed shuffles
    (window + rollup), both skew-bounded by the lang distribution; a
    heavier-skew corpus would swap lang for a hash-bucket shard key with
    identical semantics."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.size(F.split(F.lower("text"), " ")).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = toks.select(
        "lang",
        "n_tokens",
        (F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / F.lit(_PACK_BUDGET))
        .cast("long")
        .alias("seq_id"),
    )
    return (
        packed.groupBy("lang", "seq_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("seq_tokens"))
        .orderBy("lang", "seq_id")
    )


@query(
    "text_repetition_score",
    oracle="""
    WITH g AS (
      SELECT doc_id, lang,
             list_transform(
               generate_series(1, greatest(len(string_split(lower(text), ' ')) - 2, 1)),
               i -> string_split(lower(text), ' ')[i] || ' ' ||
                    string_split(lower(text), ' ')[i+1] || ' ' ||
                    string_split(lower(text), ' ')[i+2]) AS trigrams
      FROM documents)
    SELECT doc_id, lang,
           len(trigrams)::BIGINT AS n_trigrams,
           len(list_distinct(trigrams))::BIGINT AS n_distinct,
           round(1.0 - len(list_distinct(trigrams)) * 1.0 / len(trigrams), 6)
             AS rep_ratio
    FROM g
    ORDER BY doc_id
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-n-gram quality signal (the Rae et al. Gopher repetition
    filter): fraction of a doc's word trigrams that are duplicates of an
    earlier trigram in the same doc. High ratio = boilerplate/looping
    text a curation pipeline drops. Entirely row-local higher-order
    array expressions (transform over a sequence + array_distinct) — no
    shuffle at all until the output sort, so it scales as a pure map."""
    d = load(spark, sf_dir, "documents")
    # Two projection boundaries: toks so split() runs once per row, and
    # tri so the trigram transform isn't evaluated twice (it feeds both
    # the total and the distinct count).
    base = d.select("doc_id", "lang", F.split(F.lower("text"), " ").alias("toks")).select(
        "doc_id",
        "lang",
        F.expr(
            "transform(sequence(1, greatest(size(toks) - 2, 1)),"
            " i -> concat_ws(' ', slice(toks, i, 3)))"
        ).alias("tri"),
    )
    return (
        base.select(
            "doc_id",
            "lang",
            F.size("tri").cast("long").alias("n_trigrams"),
            F.size(F.array_distinct("tri")).cast("long").alias("n_distinct"),
        )
        .withColumn(
            "rep_ratio",
            F.round(
                F.lit(1.0) - F.col("n_distinct") * 1.0 / F.col("n_trigrams"), 6
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "text_pii_scrub",
    oracle="""
    WITH enriched AS (
      SELECT doc_id, lang,
             text || ' contact user' || doc_id ||
             '@example.org or +1-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
      FROM documents),
    scrubbed AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(raw, '[a-z0-9.]+@[a-z0-9.]+'))::BIGINT
               + len(regexp_extract_all(raw, '\\+1-[0-9]{3}-[0-9]{4}'))::BIGINT
               AS n_redactions,
             regexp_replace(
               regexp_replace(raw, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
               '\\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean
      FROM enriched)
    SELECT doc_id, lang, n_redactions,
           len(clean)::BIGINT AS clean_chars, md5(clean) AS clean_md5
    FROM scrubbed
    ORDER BY doc_id
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the safety pass every training corpus runs: find
    email/phone spans, replace with typed placeholders, and count the
    redactions for the audit manifest. (The corpus carries no real PII,
    so deterministic contact strings are synthesized per doc first; the
    scrub path is exactly what production runs.) Pure regexp expressions
    inside codegen — row-local, zero shuffle; the digest of the scrubbed
    text lets the oracle verify the transformation byte-for-byte."""
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.org or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    email_re = "[a-z0-9.]+@[a-z0-9.]+"
    phone_re = r"\+1-[0-9]{3}-[0-9]{4}"
    clean = F.regexp_replace(
        F.regexp_replace(raw, email_re, "<EMAIL>"), phone_re, "<PHONE>"
    )
    n_red = (
        F.regexp_count(raw, F.lit(email_re)) + F.regexp_count(raw, F.lit(phone_re))
    ).cast("long")
    return d.select(
        "doc_id",
        "lang",
        n_red.alias("n_redactions"),
        F.length(clean).cast("long").alias("clean_chars"),
        F.md5(clean).alias("clean_md5"),
    ).orderBy("doc_id")


@query(
    "text_lang_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang,
             CASE WHEN len(list_filter(string_split(lower(text), ' '),
                                       x -> list_contains({_STOPWORDS}, x))) * 10
                       >= len(string_split(lower(text), ' '))
                  THEN 'en' ELSE 'other' END AS lang_guess
      FROM documents)
    SELECT lang, lang_guess, count(*)::BIGINT AS n_docs
    FROM pred
    GROUP BY lang, lang_guess
    ORDER BY lang, lang_guess
    """,
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-audit confusion matrix: declared language vs the
    heuristic lang-ID prediction (text_lang_id), as (truth, predicted)
    counts — the evaluation table every corpus-curation run publishes
    next to its filters. One row-local prediction + one hash aggregate;
    composes on top of the same prediction expression so the audit can
    never drift from the classifier it audits."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    stop = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop, x)))
    pred = F.when(n_stop * 10 >= F.size(toks), "en").otherwise("other")
    return (
        d.select("lang", pred.alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "lang_guess")
    )


@query(
    "dedup_url_canonicalize",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             'HTTPS://WWW.' || source || '.Example.org:443/d/' || (doc_id % 50) ||
             '/?utm_source=feed&lang=' || lang || '&utm_campaign=x&ref=' || doc_id
               AS url
      FROM documents),
    canon AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^[A-Za-z]+://(?:[Ww][Ww][Ww]\\.)?([^/:?]+)', 1))
               || regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?]*(/[^?]*)', 1),
                                 '/$', '')
               || CASE WHEN len(list_filter(string_split(
                              regexp_extract(url, '\\?(.*)$', 1), '&'),
                              p -> NOT (p LIKE 'utm_%' OR p LIKE 'ref=%'))) > 0
                       THEN '?' || array_to_string(list_filter(string_split(
                              regexp_extract(url, '\\?(.*)$', 1), '&'),
                              p -> NOT (p LIKE 'utm_%' OR p LIKE 'ref=%')), '&')
                       ELSE '' END AS canonical
      FROM raw)
    SELECT canonical,
           min(doc_id) AS keeper,
           count(*)::BIGINT AS n_urls
    FROM canon
    GROUP BY canonical
    ORDER BY canonical
    """,
)
def dedup_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the crawl-frontier step that stops a
    web corpus fetching/storing the same page under cosmetic variants:
    lowercase scheme-less host, strip leading www. and the port, drop the
    trailing slash, and remove tracking params (utm_*, ref) while keeping
    semantic ones, then group by the canonical form (keeper = min id).
    (URLs are synthesized deterministically with the variants baked in —
    mixed case, www, :443, utm noise — so the canonicalizer provably
    collapses them: 500 raw URLs → 50·langs canonical groups.) All
    row-local regex/filter expressions in codegen; the dedup is one
    digest-keyed hash aggregate, the same shuffle shape as
    dedup_exact_docs."""
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW."), "source", F.lit(".Example.org:443/d/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("/?utm_source=feed&lang="), "lang",
        F.lit("&utm_campaign=x&ref="), F.col("doc_id").cast("string"),
    )
    host = F.lower(
        F.regexp_extract(url, r"^[A-Za-z]+://(?:[Ww][Ww][Ww]\.)?([^/:?]+)", 1)
    )
    path = F.regexp_replace(
        F.regexp_extract(url, r"^[A-Za-z]+://[^/?]*(/[^?]*)", 1), r"/$", ""
    )
    qparams = F.filter(
        F.split(F.regexp_extract(url, r"\?(.*)$", 1), "&"),
        lambda p: ~(p.startswith("utm_") | p.startswith("ref=")),
    )
    canonical = F.concat(
        host,
        path,
        F.when(
            F.size(qparams) > 0, F.concat(F.lit("?"), F.array_join(qparams, "&"))
        ).otherwise(""),
    )
    return (
        d.select("doc_id", canonical.alias("canonical"))
        .groupBy("canonical")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_urls"))
        .orderBy("canonical")
    )


@query(
    "dedup_rate_by_source",
    oracle="""
    WITH clusters AS (
      SELECT doc_id, source,
             count(*) OVER (PARTITION BY sha256(lower(trim(text)))) AS n_copies
      FROM documents)
    SELECT source,
           count(*)::BIGINT AS n_docs,
           count(CASE WHEN n_copies > 1 THEN 1 END)::BIGINT AS n_dup_docs,
           round(count(CASE WHEN n_copies > 1 THEN 1 END) * 1.0 / count(*), 6)
             AS dup_rate
    FROM clusters
    GROUP BY source
    ORDER BY source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation observability: which sources deliver duplicated content —
    per-source doc count, docs that belong to a >1-copy exact-dup
    cluster, and the dup rate. This is the feedback table that drives
    source-level sampling weights in a training mix. One digest-keyed
    window (same shuffle key as dedup_exact_docs — 32-byte hashes, not
    documents) + one hash aggregate."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    n_copies = F.count("*").over(
        Window.partitionBy(F.sha2(F.lower(F.trim("text")), 256))
    )
    clusters = d.select("doc_id", "source", n_copies.alias("n_copies"))
    return (
        clusters.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("n_copies") > 1, 1)).alias("n_dup_docs"),
            F.round(
                F.count(F.when(F.col("n_copies") > 1, 1)) * 1.0 / F.count("*"), 6
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


@query(
    "text_split_assign",
    oracle="""
    WITH assigned AS (
      SELECT doc_id, n_chars, lang,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f6' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT split, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS total_chars,
           count(DISTINCT lang)::BIGINT AS n_langs
    FROM assigned GROUP BY split ORDER BY split
    """,
)
def text_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment — the canonical
    holdout protocol for a training corpus. The split key is the first
    md5 byte of the doc id (NOT a random() draw: hash-based assignment is
    reproducible across runs, engines, and re-partitioning, and stays
    stable when the corpus grows — the property random sampling lacks).
    Thresholds are hex-lexicographic on the fixed-width digest prefix
    ('e6' ≈ 89.8% train, 'f6' ≈ 6.3% val, rest test), identical strings
    on both engines. Pure map + one 3-group aggregate: zero joins, one
    shuffle carrying 3 partial rows per task at any corpus size."""
    d = load(spark, sf_dir, "documents")
    prefix = F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 2)
    split = (
        F.when(prefix < "e6", "train").when(prefix < "f6", "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars", "lang")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("split")
    )


@query(
    "text_chunk_windows",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id, toks, unnest(range(0, len(toks), 48)) AS start FROM t)
    SELECT doc_id, (start // 48)::INT AS chunk_id,
           least(64, len(toks) - start)::BIGINT AS n_tokens,
           md5(array_to_string(list_slice(toks, start + 1, start + 64), ' ')) AS chunk_digest
    FROM s
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking for retrieval/training: each document is
    cut into overlapping 64-token windows with stride 48 (16-token
    overlap) — the standard RAG chunker. The chunk fan-out is a per-row
    generator (sequence + explode, no shuffle, no self-join); the chunk
    payload is verified by digest so the result stays narrow however
    wide the windows get. At 100 TB this is a pure map stage that
    pipelines into whatever sink or embedder follows."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    chunks = (
        d.select("doc_id", toks.alias("toks"))
        .withColumn("start", F.explode(F.sequence(F.lit(0), F.size("toks") - 1, F.lit(48))))
    )
    return chunks.select(
        "doc_id",
        F.expr("CAST(start DIV 48 AS INT)").alias("chunk_id"),
        F.least(F.lit(64), F.size("toks") - F.col("start")).cast("long").alias("n_tokens"),
        F.md5(
            F.encode(F.array_join(F.slice("toks", F.col("start") + 1, 64), " "), "UTF-8")
        ).alias("chunk_digest"),
    )




@query(
    "text_burstiness_profile",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents),
    per_doc AS (
      SELECT token, doc_id, count(*) AS c
      FROM tok GROUP BY 1, 2),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    stats AS (
      SELECT p.token,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(p.c) AS BIGINT) AS tf,
             CAST(sum(p.c * p.c) AS BIGINT) AS tf2
      FROM per_doc p GROUP BY 1),
    scored AS (
      SELECT s.token, s.df, s.tf,
             -- Fano factor over ALL docs (zeros included): Var/Mean =
             -- (E[c^2] - E[c]^2) / E[c], expanded over exact integer
             -- sums so only the final expression divides.
             CAST(floor(
               ((s.tf2 * 1.0 / n.n_docs)
                - (s.tf * 1.0 / n.n_docs) * (s.tf * 1.0 / n.n_docs))
               / (s.tf * 1.0 / n.n_docs) * 1000000 + 0.5) AS BIGINT)
               AS fano_micro
      FROM stats s CROSS JOIN nd n
      WHERE s.tf >= 50)
    SELECT token, df, tf, fano_micro
    FROM scored
    ORDER BY fano_micro DESC, token LIMIT 20
    """,
)
def text_burstiness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term BURSTINESS (Fano factor Var/Mean of the per-document
    count, zeros included): content words clump — they either dominate
    a document or skip it — while function words sprinkle uniformly, so
    Fano ≫ 1 flags topical/templated terms and Fano ≈ 1 flags
    grammatical glue (Church & Gale's burstiness observation, the IR
    feature behind stopword induction and boilerplate detection without
    any language-specific list). Top-20 burstiest terms with tf ≥ 50.

    Determinism: df, tf, Σc² are exact integer aggregates; the Fano
    expression is one fixed-order +,×,/ double computation over those
    integers (zeros enter only through n_docs — no per-zero-row work),
    floor(+0.5)-µ-quantized; total order (fano desc, token) pins the
    top-20.

    Scale: explode + two hash aggregations (the wordcount shape, one
    extra Σc² accumulator) — vocabulary-bounded output, corpus-bounded
    shuffle, nothing quadratic anywhere."""
    tok = _tokens(spark, sf_dir)
    per_doc = tok.groupBy("token", "doc_id").agg(F.count("*").alias("c"))
    nd = load(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_docs")
    )
    stats = per_doc.groupBy("token").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("c").cast("long").alias("tf"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("tf2"),
    )
    mean = F.col("tf") * F.lit(1.0) / F.col("n_docs")
    fano = (
        (F.col("tf2") * F.lit(1.0) / F.col("n_docs") - mean * mean) / mean
    )
    return (
        stats.filter(F.col("tf") >= 50)
        .crossJoin(F.broadcast(nd))
        .select(
            "token",
            "df",
            "tf",
            F.floor(fano * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("fano_micro"),
        )
        .orderBy(F.col("fano_micro").desc(), "token")
        .limit(20)
    )


@query(
    "text_rouge_overlap",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, substr(text, 1, {_DUP_PREFIX_LEN}) AS ckey,
             list_filter(string_split(lower(text), ' '), t -> t <> '')
               AS toks
      FROM documents),
    g AS (
      SELECT doc_id, ckey,
             list_distinct(list_transform(
               generate_series(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i + 1])) AS bigrams
      FROM d WHERE len(toks) >= 2),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.bigrams, b.bigrams)) AS BIGINT)
               AS overlap,
             CAST(len(a.bigrams) AS BIGINT) AS n_a,
             CAST(len(b.bigrams) AS BIGINT) AS n_b
      FROM g a JOIN g b ON a.ckey = b.ckey AND a.doc_id < b.doc_id),
    scored AS (
      SELECT doc_a, doc_b, overlap,
             CAST(overlap AS DOUBLE) / n_a AS r,
             CAST(overlap AS DOUBLE) / n_b AS p
      FROM pairs WHERE overlap > 0)
    SELECT doc_a, doc_b, overlap,
           round(r, 6) AS rouge2_recall,
           round(p, 6) AS rouge2_precision,
           round(2 * p * r / (p + r), 6) AS rouge2_f1
    FROM scored
    ORDER BY rouge2_f1 DESC, doc_a, doc_b LIMIT 20
    """,
)
def text_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 overlap scoring between near-dup CANDIDATES — the
    summarization-eval metric repurposed as the graded-similarity tier
    between exact dedup (binary) and edit distance (character-level):
    distinct-bigram recall/precision/F1 per candidate pair, top-20 by F1
    with pinned tie-break. Like `text_edit_distance`, the quadratic
    kernel runs ONLY on pairs sharing a candidate key
    (`with_candidate_key`; the identical code path composes over
    MinHash band keys at scale), never all-pairs. Counts are exact
    integers (distinct bigrams via row-local transform + array_distinct,
    overlap via array_intersect size); recall/precision/F1 are one
    fixed-order double expression each, rounded once — both engines
    divide the same exact ints.

    Scale: the per-doc bigram set is a row-local generator (no
    shuffle); the pair join is the candidate equi-join; per-pair cost
    is set intersection on bounded token arrays — the shape LLM-eval
    contamination checks (ROUGE against eval sets) run at corpus
    scale."""
    d = with_candidate_key(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    toks = F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    g = (
        d.select("doc_id", "ckey", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            "ckey",
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(0), F.size("toks") - F.lit(2)
                    ),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("toks"), i + 1),
                        F.element_at(F.col("toks"), i + 2),
                    ),
                )
            ).alias("bigrams"),
        )
    )
    a, b = g.alias("a"), g.alias("b")
    pairs = a.join(
        b,
        (F.col("a.ckey") == F.col("b.ckey"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.size(F.array_intersect(F.col("a.bigrams"), F.col("b.bigrams")))
        .cast("long")
        .alias("overlap"),
        F.size(F.col("a.bigrams")).cast("long").alias("n_a"),
        F.size(F.col("b.bigrams")).cast("long").alias("n_b"),
    )
    r = F.col("overlap").cast("double") / F.col("n_a")
    p = F.col("overlap").cast("double") / F.col("n_b")
    return (
        pairs.filter(F.col("overlap") > 0)
        .select(
            "doc_a",
            "doc_b",
            "overlap",
            F.round(r, 6).alias("rouge2_recall"),
            F.round(p, 6).alias("rouge2_precision"),
            F.round(2 * p * r / (p + r), 6).alias("rouge2_f1"),
        )
        .orderBy(F.desc("rouge2_f1"), "doc_a", "doc_b")
        .limit(20)
    )


# --- incremental near-dup maintenance (r11): dedup a corpus APPEND
# against the existing index without re-pairing the base — the daily
# crawl increment, the `sim_ivf_index_append` discipline applied to
# MinHash-LSH ---

_NMI_NUM = 7  # base slice: doc_id < (max+1) * 7 // 8
_NMI_DEN = 8


def _minhash_incremental_oracle() -> str:
    k = _MINHASH_BANDS * _MINHASH_ROWS
    h = _MD5_60_DUCK.format(x="s.i::VARCHAR || ':' || shingle")
    return f"""
    WITH cut AS MATERIALIZED (
      SELECT ((max(doc_id) + 1) * {_NMI_NUM}) // {_NMI_DEN} AS c
      FROM documents),
    toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               range(1, greatest(len(t) - {_SHINGLE_W - 1}, 1) + 1),
               i -> array_to_string(t[i:i+{_SHINGLE_W - 1}], ' '))) AS shingle
      FROM toks),
    mins AS MATERIALIZED (
      SELECT doc_id, s.i, min({h}) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(0, {k})) AS i) s
      GROUP BY doc_id, s.i),
    bands AS MATERIALIZED (
      SELECT doc_id, i // {_MINHASH_ROWS} AS band,
             string_agg(mh::VARCHAR, ',' ORDER BY i) AS band_key
      FROM mins GROUP BY doc_id, i // {_MINHASH_ROWS})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           b.doc_id >= (SELECT c FROM cut)
             AND a.doc_id >= (SELECT c FROM cut) AS both_new
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    WHERE b.doc_id >= (SELECT c FROM cut)
       OR a.doc_id >= (SELECT c FROM cut)
    """


@query("dedup_near_incremental", oracle=_minhash_incremental_oracle())
def dedup_near_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup maintenance — `dedup_near_minhash` for an
    APPEND-ONLY corpus (the daily crawl increment; the
    `sim_ivf_index_append` discipline applied to MinHash-LSH). The
    base slice (doc_id < (max+1)·{_NMI_NUM}/{_NMI_DEN}) was deduped
    when it landed and its band-key table IS the persisted index; when
    the delta arrives, the only NEW pairs possible are delta×base and
    delta×delta — base×base was settled at base-index time. So the
    candidate join probes the DELTA's band keys against the full
    bucket table and never self-joins the base: candidate work is
    O(delta × bucket-mates), not O(corpus²), which is the difference
    between re-deduping 100 TB nightly and deduping the night's 100 GB.

    In-key asserts: every emitted pair involves at least one delta doc
    (a base×base leak = the join shape is wrong), the delta side is
    non-empty, and signature work for the incremental step runs over
    the delta slice only (the base signatures come from the index
    build, exactly like the ANN key's frozen code table).
    Completeness — incremental pairs == the FULL self-join's pairs
    restricted to delta-involved — is pinned in pytest against
    `dedup_near_minhash` itself.

    The oracle recomputes the whole pipeline and filters to
    delta-involved pairs, so the hash proves the incremental join
    found EXACTLY the pairs the full pass would have."""
    docs = load(spark, sf_dir, "documents")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]  # bounded scalar
    cut = (int(max_id) + 1) * _NMI_NUM // _NMI_DEN

    # the persisted index: band keys of the base (built when the base
    # landed); the incremental step computes signatures for the DELTA
    # slice only. Both frames localCheckpoint so the empty-delta count,
    # the leak count, and the returned join each read the materialized
    # band keys instead of re-running the shingle→minhash pipeline
    # (the heaviest pipeline in textops) once per consumer.
    base_idx = band_keys(
        minhash_signatures(docs.filter(F.col("doc_id") < cut))
    ).localCheckpoint()
    delta_b = band_keys(
        minhash_signatures(docs.filter(F.col("doc_id") >= cut))
    ).localCheckpoint()
    if delta_b.select("doc_id").distinct().count() == 0:
        raise RuntimeError("delta slice is empty — nothing to maintain")

    # probe: delta vs (base index ∪ delta) — never base×base
    full = base_idx.unionByName(delta_b)
    d = delta_b.alias("d")
    x = full.alias("x")
    pairs = (
        d.join(
            x,
            (F.col("d.band") == F.col("x.band"))
            & (F.col("d.band_key") == F.col("x.band_key"))
            & (F.col("d.doc_id") != F.col("x.doc_id")),
        )
        .select(
            F.least("d.doc_id", "x.doc_id").alias("doc_a"),
            F.greatest("d.doc_id", "x.doc_id").alias("doc_b"),
        )
        .distinct()
        .withColumn("both_new", F.col("doc_a") >= cut)
    )
    leaked = pairs.filter(F.col("doc_b") < cut).count()
    if leaked:
        raise RuntimeError(
            f"{leaked} base-only pairs leaked into the incremental join"
        )
    return pairs


# --- the band-key index as a COMMITTED TABLE maintained from the
# change feed (r12: the r11 verdict's ask #3 — `dedup_near_incremental`
# proved the delta-probe join; this makes the index DURABLE and
# delete-aware: inserts add band keys, deletes retire them) ---

_DIX_NUM = 7  # base slice: doc_id < (max+1) * 7 // 8
_DIX_DEN = 8
_DIX_MOD = 9  # deleted docs: doc_id % 9 == 4 (hits base AND delta)
_DIX_REM = 4


def _dedup_index_oracle() -> str:
    k = _MINHASH_BANDS * _MINHASH_ROWS
    h = _MD5_60_DUCK.format(x="s.i::VARCHAR || ':' || shingle")
    return f"""
    WITH live AS MATERIALIZED (
      SELECT doc_id, text FROM documents
      WHERE NOT (doc_id % {_DIX_MOD} = {_DIX_REM})),
    toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM live),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               range(1, greatest(len(t) - {_SHINGLE_W - 1}, 1) + 1),
               i -> array_to_string(t[i:i+{_SHINGLE_W - 1}], ' '))) AS shingle
      FROM toks),
    mins AS MATERIALIZED (
      SELECT doc_id, s.i, min({h}) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(0, {k})) AS i) s
      GROUP BY doc_id, s.i),
    bands AS MATERIALIZED (
      SELECT doc_id, i // {_MINHASH_ROWS} AS band,
             string_agg(mh::VARCHAR, ',' ORDER BY i) AS band_key
      FROM mins GROUP BY doc_id, i // {_MINHASH_ROWS})
    SELECT CAST(band AS INT) AS band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT band_key) AS BIGINT) AS n_buckets,
           CAST(sum(length(band_key)) AS BIGINT) AS len_sum,
           min(band_key) AS min_key, max(band_key) AS max_key
    FROM bands GROUP BY band ORDER BY band
    """


@query("dedup_index_maintain", oracle=_dedup_index_oracle())
def dedup_index_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE DEDUP INDEX AS A COMMITTED TABLE, MAINTAINED FROM THE CHANGE
    FEED (the r11 verdict's ask #3). `dedup_near_incremental` treats the
    band-key table as 'the persisted index' but holds it in-session;
    here it is durable and delete-aware: the documents table lives in a
    snapshot log (v1 base append, v2 delta append, v3 equality-delete
    tombstone for doc_id %{_DIX_MOD}=={_DIX_REM} — masking docs of BOTH
    slices), and the index is ITS OWN snapshot-log table whose every
    version is committed by the feed consumer through `commit_snapshot`
    (the `stream_cdf_materialized_view` maintenance pattern applied to a
    NON-AGGREGATE index):

    - insert events -> minhash+band keys computed over THAT BATCH ONLY,
      landed as an add-only file commit (the index never rebuilds —
      asserted: exactly one index version per feed micro-batch);
    - delete events -> an add-only KB tombstone commit on the INDEX
      table (doc_id list); the maintained index read is the MOR read:
      band-key files anti-joined against the union of tombstones —
      retirement is O(deleted), never a re-shingle.

    Exactly-once: every index commit stamps ``feed_batch`` and the
    maintainer skips a redelivered batch a manifest already covers (the
    `stream_acid_append` txn-id discipline; Spark checkpoints AFTER
    foreachBatch, so replays must be no-ops, not double-commits).

    THE PROOF the ask names: index-after-feed == index-rebuilt-from-
    head, exact frame equality on (doc_id, band, band_key) across the
    delete commit — multiset equality (empty symmetric difference,
    the one-pass signed-count form of exceptAll-in-both-directions),
    asserted in-key before the oracle sees a row. Retirement is also counted
    exactly: |index| shrinks by |deleted docs|·{_MINHASH_BANDS} bands.

    Scale: per-commit maintenance = shingle+minhash over that commit's
    delta rows (the night's 100 GB, not the 100 TB corpus) + one KB
    commit; delete cost is a tombstone write + broadcast anti-join at
    read time; the rebuild here is the VERIFICATION twin, not the
    maintenance path. Compaction of accumulated index tombstones is
    `sink_rewrite_data_files`'s job, unchanged."""
    import os

    from sparkgraft.streaming import (
        _doc_cdf_datasource,
        _drain_feed,
        _index_feed_maintainer,
        _index_source_history,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]  # bounded scalar
    cut = (int(max_id) + 1) * _DIX_NUM // _DIX_DEN

    root = key_root(sf_dir, "dedupidx")
    doc_log = os.path.join(root, "doclog")
    idx_log = os.path.join(root, "idxlog")
    ckpt = os.path.join(root, "ckpt")
    idx_root = os.path.join(root, "idx")
    for d in (doc_log, idx_log, idx_root):
        os.makedirs(d)

    # the documents table's history
    _index_source_history(
        docs, "doc_id", cut, _DIX_MOD, _DIX_REM, root, doc_log
    )

    # THE MAINTAINER: one index-table commit per feed micro-batch
    maintain = _index_feed_maintainer(
        idx_log, idx_root, "doc_id",
        lambda ins: band_keys(minhash_signatures(ins)), "feed_batch",
    )

    spark.dataSource.register(_doc_cdf_datasource())
    _drain_feed(spark, "sparkgraft_doc_cdf", maintain, ckpt, log_dir=doc_log)

    idx_versions = log_versions(idx_log)
    if len(idx_versions) != 3:  # one commit per feed batch, no rebuilds
        raise RuntimeError(
            f"index log has {len(idx_versions)} versions, wanted 3"
        )

    # the maintained index: MOR read of the index table's head
    head = read_manifest(idx_log, idx_versions[-1])["files"]
    idx_data, idx_tombs = split_head_files(head)
    if not idx_data or not idx_tombs:
        raise RuntimeError("index head lost a file class")
    committed = spark.read.parquet(*idx_data)
    tomb = spark.read.parquet(*idx_tombs).select("doc_id")
    maintained = committed.join(
        F.broadcast(tomb), "doc_id", "left_anti"
    ).localCheckpoint()  # one evaluation feeds the equality proof,
    # the retirement count, and the returned digest

    # retirement counted exactly: bands × |deleted docs| rows gone
    n_all = committed.count()
    n_live = maintained.count()
    n_del = int(tomb.count())
    if n_all - n_live != n_del * _MINHASH_BANDS or n_del == 0:
        raise RuntimeError(
            f"retirement wrong: {n_all - n_live} index rows gone for "
            f"{n_del} deleted docs × {_MINHASH_BANDS} bands"
        )

    # THE PROOF: index-after-feed == index-rebuilt-from-head (the docs
    # table's MOR read), exact frame equality across the delete commit
    doc_head = head_files(doc_log)
    live_docs = mor_read(spark, doc_head, "doc_id")
    rebuilt = band_keys(minhash_signatures(live_docs))
    if not multisets_equal(maintained, rebuilt):
        raise RuntimeError(
            "maintained index diverged from rebuild-from-head"
        )

    return (
        maintained.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("band_key").cast("long").alias("n_buckets"),
            F.sum(F.length("band_key")).cast("long").alias("len_sum"),
            F.min("band_key").alias("min_key"),
            F.max("band_key").alias("max_key"),
        )
        .select(
            F.col("band").cast("int"),
            "n_docs",
            "n_buckets",
            "len_sum",
            "min_key",
            "max_key",
        )
        .orderBy("band")
    )


# --- dedup index COMPACTION (r12: the lifecycle's last seam — build
# ✓, feed-maintained ✓ (`dedup_index_maintain`), now the accumulated
# index tombstones are applied by the maintenance rewrite and the feed
# keeps maintaining ON TOP of the compacted head) ---

_DIC_N1 = 6  # base slice:   doc_id <  (max+1) * 6 // 8
_DIC_N2 = 7  # delta1 slice: doc_id <  (max+1) * 7 // 8
_DIC_DEN = 8  # delta2 slice: the rest — appended AFTER the delete


def _dedup_index_compaction_oracle() -> str:
    k = _MINHASH_BANDS * _MINHASH_ROWS
    h = _MD5_60_DUCK.format(x="s.i::VARCHAR || ':' || shingle")
    return f"""
    WITH cut AS MATERIALIZED (
      SELECT ((max(doc_id) + 1) * {_DIC_N2}) // {_DIC_DEN} AS c2
      FROM documents),
    live AS MATERIALIZED (
      -- sequence scoping through the feed: the tombstone (sequence 3)
      -- masks only docs committed BEFORE it; delta2 (sequence 5) keeps
      -- its %{_DIX_MOD}=={_DIX_REM} docs
      SELECT doc_id, text FROM documents
      WHERE doc_id >= (SELECT c2 FROM cut)
         OR NOT (doc_id % {_DIX_MOD} = {_DIX_REM})),
    toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM live),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               range(1, greatest(len(t) - {_SHINGLE_W - 1}, 1) + 1),
               i -> array_to_string(t[i:i+{_SHINGLE_W - 1}], ' '))) AS shingle
      FROM toks),
    mins AS MATERIALIZED (
      SELECT doc_id, s.i, min({h}) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(0, {k})) AS i) s
      GROUP BY doc_id, s.i),
    bands AS MATERIALIZED (
      SELECT doc_id, i // {_MINHASH_ROWS} AS band,
             string_agg(mh::VARCHAR, ',' ORDER BY i) AS band_key
      FROM mins GROUP BY doc_id, i // {_MINHASH_ROWS})
    SELECT CAST(band AS INT) AS band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT band_key) AS BIGINT) AS n_buckets,
           CAST(sum(length(band_key)) AS BIGINT) AS len_sum,
           min(band_key) AS min_key, max(band_key) AS max_key
    FROM bands GROUP BY band ORDER BY band
    """


@query("dedup_index_compaction", oracle=_dedup_index_compaction_oracle())
def dedup_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-INDEX COMPACTION — the last seam of the index lifecycle:
    `dedup_index_maintain` proves the band-key index as a committed
    table maintained from the change feed, with deletes landing as
    add-only tombstones; a long-lived index accumulates those and
    every read pays the anti-join. This key runs the MAINTENANCE
    REWRITE on the index table itself (`sink_rewrite_data_files`'s
    op=rewrite remove/add delta applied to the index log): the MOR
    read (band keys ⟕̸ tombstoned doc_ids) lands in clean files, the
    tombstone retires, and — the part that makes it a COMPOSITION
    proof — the FEED KEEPS MAINTAINING on top of the compacted head:

    - doc v1 (base) / v2 (delta1) / v3 (equality tombstone,
      %{_DIX_MOD}=={_DIX_REM}) stream through the feed into index
      commits 1-3 (the `dedup_index_maintain` protocol);
    - the index is compacted (commit 4, op=rewrite; asserted: zero
      delete-class files remain, post read == pre MOR read on exact
      (doc_id, band, band_key) frame equality);
    - doc v4 appends delta2 AFTER the delete — its
      %{_DIX_MOD}=={_DIX_REM} docs are NOT masked (sequence scoping:
      the tombstone applies only to lower-sequence files, and the
      oracle pins exactly this); the RESTARTED feed (reader cursor +
      Spark checkpoint resume) lands exactly ONE more index commit ON
      the compacted head.

    Exactly-once across compaction: index versions no longer track
    feed batches 1:1 once maintenance commits interleave, so the
    maintainer stamps ``feed_batch`` INTO each index commit and skips
    any batch a manifest already covers — the txn-id discipline that
    version arithmetic cannot provide once other writers touch the
    log.

    Final proof: head index read (tombstone-free) == index rebuilt
    from the docs head's live rows, exact frame equality.

    Scale: compaction cost is one read+write of the index table (12
    bytes + key CSV per (doc, band)) — scheduled off accumulated
    tombstone debt from KB manifests; maintenance cost per commit is
    unchanged; the feed never replays history to survive a compaction
    it didn't cause (asserted by the single post-restart commit)."""
    import os

    from sparkgraft.streaming import (
        _doc_cdf_datasource,
        _drain_feed,
        _index_feed_maintainer,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]  # bounded scalar
    c1 = (int(max_id) + 1) * _DIC_N1 // _DIC_DEN
    c2 = (int(max_id) + 1) * _DIC_N2 // _DIC_DEN

    root = key_root(sf_dir, "dedupidxc")
    doc_log = os.path.join(root, "doclog")
    idx_log = os.path.join(root, "idxlog")
    ckpt = os.path.join(root, "ckpt")
    idx_root = os.path.join(root, "idx")
    for d in (doc_log, idx_log, idx_root):
        os.makedirs(d)

    # base/delta1/delta2 staged in ONE partitioned write (was 3
    # sequential filter+coalesce(1) scans of documents — stage_slices
    # docstring, guide §1.2 step 1). delta2 (slice 2) is committed only
    # in the post-compaction phase below; staging a file early and
    # committing it later is exactly the snapshot-log contract (a file
    # is invisible until a manifest references it).
    doc_slices = stage_slices(
        docs,
        F.when(F.col("doc_id") < c1, 0)
        .when(F.col("doc_id") < c2, 1)
        .otherwise(2),
        os.path.join(root, "slices"),
    )
    commit_snapshot(doc_log, doc_slices[0])  # v1
    commit_snapshot(doc_log, doc_slices[1])  # v2
    commit_snapshot(
        doc_log,
        stage(
            docs.select("doc_id")
            .filter(F.col("doc_id") % _DIX_MOD == _DIX_REM)
            .coalesce(1),
            os.path.join(root, MOR_DELETE_CLASS, "t3"),
        ),
        extra={"op": "mor-delete"},
    )  # v3

    maintain = _index_feed_maintainer(
        idx_log, idx_root, "doc_id",
        lambda ins: band_keys(minhash_signatures(ins)), "feed_batch",
    )

    spark.dataSource.register(_doc_cdf_datasource())

    def run_feed() -> None:
        _drain_feed(
            spark, "sparkgraft_doc_cdf", maintain, ckpt, log_dir=doc_log,
            state_dir=os.path.join(root, "reader_state"),
        )

    run_feed()  # phase 1: doc v1-v3 -> index commits 1-3
    if log_versions(idx_log) != [1, 2, 3]:
        raise RuntimeError(
            f"phase-1 index log wrong: {log_versions(idx_log)}"
        )

    # ---- THE COMPACTION: apply the index tombstone, retire it ----
    head_pre = read_manifest(idx_log, 3)["files"]
    if not split_head_files(head_pre)[1]:
        raise RuntimeError("phase 1 left no index tombstone to compact")
    pre_mor = mor_read(spark, head_pre, "doc_id").localCheckpoint()
    commit_snapshot(
        idx_log,
        stage(pre_mor.coalesce(1), os.path.join(idx_root, "compacted")),
        remove_files=head_pre,
        extra={"op": "rewrite"},
    )  # index v4
    head_mid = read_manifest(idx_log, 4)["files"]
    if any(is_delete_file(f) for f in head_mid):
        raise RuntimeError("compaction left index tombstones live")
    post = spark.read.parquet(*head_mid)
    if not multisets_equal(post, pre_mor):
        raise RuntimeError("compaction changed the index contents")

    # ---- doc v4: delta2 lands AFTER the delete; the feed resumes ----
    # (slice 2 was staged in the single partitioned write above)
    commit_snapshot(doc_log, doc_slices[2])
    run_feed()  # phase 2: exactly one more commit, ON the compacted head
    if log_versions(idx_log) != [1, 2, 3, 4, 5]:
        raise RuntimeError(
            f"phase-2 index log wrong: {log_versions(idx_log)}"
        )
    v5 = read_manifest(idx_log, 5)
    if int(v5.get("feed_batch", -1)) != 3:
        raise RuntimeError(
            "the resumed feed replayed history instead of continuing: "
            f"{v5.get('feed_batch')}"
        )
    new_files = sorted(set(v5["files"]) - set(head_mid))
    if not new_files or any(is_delete_file(f) for f in new_files):
        raise RuntimeError(f"phase-2 delta wrong: {new_files}")

    # ---- final: head index == rebuild from the docs head's LIVE rows
    maintained = spark.read.parquet(*v5["files"]).localCheckpoint()
    doc_head = head_files(doc_log)
    live_docs = (
        spark.read.parquet(*split_head_files(doc_head)[0])
        # sequence scoping: the v3 tombstone masks only docs committed
        # before it — delta2 (v4) keeps its masked-key docs
        .filter(
            (F.col("doc_id") >= c2)
            | ~(F.col("doc_id") % _DIX_MOD == _DIX_REM)
        )
    )
    rebuilt = band_keys(minhash_signatures(live_docs))
    if not multisets_equal(maintained, rebuilt):
        raise RuntimeError(
            "compacted+maintained index diverged from rebuild-from-head"
        )

    return (
        maintained.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("band_key").cast("long").alias("n_buckets"),
            F.sum(F.length("band_key")).cast("long").alias("len_sum"),
            F.min("band_key").alias("min_key"),
            F.max("band_key").alias("max_key"),
        )
        .select(
            F.col("band").cast("int"),
            "n_docs",
            "n_buckets",
            "len_sum",
            "min_key",
            "max_key",
        )
        .orderBy("band")
    )


# --- AS-OF reads of the feed-maintained index (r13: the r12 verdict's
# ask #5 — "reproduce yesterday's retrieval": AS-OF version k must
# resolve the index CONSISTENT with the documents table at k) ---


def _dedup_index_asof_oracle() -> str:
    k = _MINHASH_BANDS * _MINHASH_ROWS
    h = _MD5_60_DUCK.format(x="s.i::VARCHAR || ':' || shingle")
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               range(1, greatest(len(t) - {_SHINGLE_W - 1}, 1) + 1),
               i -> array_to_string(t[i:i+{_SHINGLE_W - 1}], ' '))) AS shingle
      FROM toks),
    mins AS MATERIALIZED (
      SELECT doc_id, s.i, min({h}) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(0, {k})) AS i) s
      GROUP BY doc_id, s.i),
    bands AS MATERIALIZED (
      SELECT doc_id, i // {_MINHASH_ROWS} AS band,
             string_agg(mh::VARCHAR, ',' ORDER BY i) AS band_key
      FROM mins GROUP BY doc_id, i // {_MINHASH_ROWS}),
    retired AS (
      SELECT count(*) * {_MINHASH_BANDS} AS n FROM documents
      WHERE doc_id % {_DIX_MOD} = {_DIX_REM})
    SELECT CAST(2 AS INT) AS asof_version, TRUE AS stamps_monotone,
           CAST((SELECT n FROM retired) AS BIGINT) AS retired_rows,
           CAST(band AS INT) AS band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT band_key) AS BIGINT) AS n_buckets,
           CAST(sum(length(band_key)) AS BIGINT) AS len_sum,
           min(band_key) AS min_key, max(band_key) AS max_key
    FROM bands GROUP BY band
    UNION ALL
    SELECT CAST(3 AS INT), TRUE,
           CAST((SELECT n FROM retired) AS BIGINT),
           CAST(band AS INT), CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT band_key) AS BIGINT),
           CAST(sum(length(band_key)) AS BIGINT),
           min(band_key), max(band_key)
    FROM bands WHERE NOT (doc_id % {_DIX_MOD} = {_DIX_REM})
    GROUP BY band
    ORDER BY asof_version, band
    """


@query("dedup_index_asof", oracle=_dedup_index_asof_oracle())
def dedup_index_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF READS OF THE FEED-MAINTAINED DEDUP INDEX (the r12
    verdict's ask #5 — `scan_txn_checkpoint` proves AS-OF for tables
    the same txn root owns; the feed-maintained index lives in its OWN
    log, so version-travel needs an explicit BINDING). The maintainer
    (the `dedup_index_maintain` protocol) now STAMPS each index commit
    with the documents version whose feed batch produced it
    (``extra={"docs_version": k}`` on `commit_snapshot` — the
    mechanism real MV/index maintainers persist: Delta's MVs record
    the source table version a refresh read). AS-OF docs-version k
    then resolves the index as the newest index commit whose stamp is
    ≤ k, and the pair (docs@k, index@k) is CONSISTENT — "reproduce
    yesterday's retrieval" exactly.

    History: docs v1 base append, v2 delta append, v3 equality
    tombstone (doc_id %{_DIX_MOD}=={_DIX_REM}, masking BOTH slices);
    the feed maintains index versions stamped docs_version 1, 2, 3
    (stamps asserted present and strictly monotone).

    Asserted in-key, for BOTH historical versions k=2 (pre-delete) and
    k=3 (the head): index-AS-OF-k == index REBUILT from docs-AS-OF-k
    (the docs MOR read cut at manifest k), exact (doc_id, band,
    band_key) multiset frame equality (one-pass signed-count) — and the
    versions genuinely differ: index@2 − index@3 is exactly the
    retired rows, |deleted docs| × {_MINHASH_BANDS} bands (counted).
    A consumer pinning k therefore gets the same candidate buckets
    yesterday's retrieval saw, including docs deleted since — and the
    head read hides them.

    Scale: AS-OF resolution is a KB manifest walk (newest stamp ≤ k);
    no data is rewritten to serve history — the MOR read at k simply
    stops applying tombstones committed after k. The stamp is one
    integer per index commit; the rebuild here is the verification
    twin, never the serving path."""
    import os

    from sparkgraft.streaming import (
        _doc_cdf_datasource,
        _drain_feed,
        _index_feed_maintainer,
        _index_source_history,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]  # bounded scalar
    cut = (int(max_id) + 1) * _DIX_NUM // _DIX_DEN

    root = key_root(sf_dir, "idxasof")
    doc_log = os.path.join(root, "doclog")
    idx_log = os.path.join(root, "idxlog")
    ckpt = os.path.join(root, "ckpt")
    idx_root = os.path.join(root, "idx")
    for d in (doc_log, idx_log, idx_root):
        os.makedirs(d)

    # the documents table's history
    _, t3 = _index_source_history(
        docs, "doc_id", cut, _DIX_MOD, _DIX_REM, root, doc_log
    )

    # the maintainer, stamping each index commit with its docs version
    # — derived from the BATCH'S OWN event rows, never from the
    # foreachBatch id (r13 review); the source version is also the
    # idempotency key
    maintain = _index_feed_maintainer(
        idx_log, idx_root, "doc_id",
        lambda ins: band_keys(minhash_signatures(ins)), "docs_version",
    )

    spark.dataSource.register(_doc_cdf_datasource())
    _drain_feed(spark, "sparkgraft_doc_cdf", maintain, ckpt, log_dir=doc_log)

    idx_versions = log_versions(idx_log)
    stamps = [
        read_manifest(idx_log, v).get("docs_version")
        for v in idx_versions
    ]
    # None guard FIRST (sorted() on a None-bearing list raises the
    # wrong error), then STRICTLY increasing — a duplicate stamp means
    # one docs commit landed two index commits
    stamps_monotone = (
        None not in stamps
        and len(stamps) == 3
        and all(a < b for a, b in zip(stamps, stamps[1:]))
    )
    if not stamps_monotone:
        raise RuntimeError(f"index stamps broken: {stamps}")

    def idx_asof(k: int) -> DataFrame:
        """Newest index commit whose docs_version stamp ≤ k, MOR-read
        within that manifest (tombstones committed after k are simply
        not in it — history is served from retained files, unchanged)."""
        v = max(
            v
            for v in idx_versions
            if read_manifest(idx_log, v)["docs_version"] <= k
        )
        return mor_read(
            spark, read_manifest(idx_log, v)["files"], "doc_id"
        ).localCheckpoint()

    def docs_asof(k: int) -> DataFrame:
        return mor_read(
            spark, read_manifest(doc_log, k)["files"], "doc_id"
        )

    asof = {k: idx_asof(k) for k in (2, 3)}
    # ONE rebuild serves both versions (guide §1.2 step 1 — remove a
    # whole pass): minhash/band_keys are row-local per doc, so the
    # rebuild at docs@3 (the MOR read masking doc_id%mod==rem) is
    # EXACTLY the docs@2 rebuild filtered to live doc_ids — a second
    # full shingle+minhash pass recomputes identical rows. The proof
    # strength is unchanged: both assertions still compare the served
    # index against a from-docs recomputation.
    rebuilt2 = band_keys(minhash_signatures(docs_asof(2))).persist()
    rebuilt = {
        2: rebuilt2,
        3: rebuilt2.filter(~(F.col("doc_id") % _DIX_MOD == _DIX_REM)),
    }
    try:
        for k in (2, 3):
            if not multisets_equal(asof[k], rebuilt[k]):
                raise RuntimeError(
                    f"index AS-OF {k} diverged from rebuild at docs@{k}"
                )
    finally:
        rebuilt2.unpersist()

    # the versions genuinely differ by exactly the retired rows
    n2, n3 = asof[2].count(), asof[3].count()
    # tombstone cardinality from the staged tombstone file's footer
    # (metadata count-star) instead of re-filtering documents
    n_del = int(spark.read.parquet(*t3).count())
    retired = n_del * _MINHASH_BANDS
    if n2 - n3 != retired or retired == 0:
        raise RuntimeError(
            f"AS-OF diff {n2 - n3} != retired rows {retired}"
        )

    def digest(df: DataFrame, k: int) -> DataFrame:
        return (
            df.groupBy("band")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.countDistinct("band_key").cast("long").alias("n_buckets"),
                F.sum(F.length("band_key")).cast("long").alias("len_sum"),
                F.min("band_key").alias("min_key"),
                F.max("band_key").alias("max_key"),
            )
            .select(
                F.lit(k).cast("int").alias("asof_version"),
                F.lit(stamps_monotone).alias("stamps_monotone"),
                F.lit(retired).cast("long").alias("retired_rows"),
                F.col("band").cast("int"),
                "n_docs",
                "n_buckets",
                "len_sum",
                "min_key",
                "max_key",
            )
        )

    return (
        digest(asof[2], 2)
        .unionByName(digest(asof[3], 3))
        .orderBy("asof_version", "band")
    )


# --- schema evolution THROUGH the index feed (r13: the r12 verdict's
# ask #6 — an add-column documents commit must flow through the doc
# CDF while the index maintainer keeps maintaining) ---


def _dedup_index_evo_oracle() -> str:
    k = _MINHASH_BANDS * _MINHASH_ROWS
    h = _MD5_60_DUCK.format(x="s.i::VARCHAR || ':' || shingle")
    return f"""
    WITH live AS MATERIALIZED (
      SELECT doc_id, text FROM documents
      WHERE NOT (doc_id % {_DIX_MOD} = {_DIX_REM})),
    toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM live),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               range(1, greatest(len(t) - {_SHINGLE_W - 1}, 1) + 1),
               i -> array_to_string(t[i:i+{_SHINGLE_W - 1}], ' '))) AS shingle
      FROM toks),
    mins AS MATERIALIZED (
      SELECT doc_id, s.i, min({h}) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(0, {k})) AS i) s
      GROUP BY doc_id, s.i),
    bands AS MATERIALIZED (
      SELECT doc_id, i // {_MINHASH_ROWS} AS band,
             string_agg(mh::VARCHAR, ',' ORDER BY i) AS band_key
      FROM mins GROUP BY doc_id, i // {_MINHASH_ROWS})
    SELECT TRUE AS metadata_batch_empty,
           TRUE AS index_invariant_to_metadata,
           TRUE AS post_evolution_indexed,
           CAST(3 AS INT) AS n_index_commits,
           CAST(band AS INT) AS band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT band_key) AS BIGINT) AS n_buckets,
           CAST(sum(length(band_key)) AS BIGINT) AS len_sum,
           min(band_key) AS min_key, max(band_key) AS max_key
    FROM bands GROUP BY band ORDER BY band
    """


@query("dedup_index_schema_evolution", oracle=_dedup_index_evo_oracle())
def dedup_index_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION THROUGH THE INDEX FEED (the r12 verdict's ask
    #6 — `stream_cdf_schema_evolution` proves the evolved feed in
    isolation; this key drives an add-column commit through
    `DocCDFReader` WHILE `dedup_index_maintain`'s maintainer keeps
    maintaining). History on the documents log:

    - v1: base append (doc_id, text).
    - v2: METADATA-ONLY add-column commit — ``schema_version: 2``
      stamped, file list UNCHANGED (`commit_snapshot` with zero
      adds). The shared planner's file-delta arithmetic makes this
      zero events BY CONSTRUCTION (cur − prev = ∅), pinned by the
      planner pytest; the feed still delivers the (empty) batch.
    - v3: post-evolution append whose files CARRY the new column
      (doc_id, text, lang) — the reader's column-projected read
      (doc_id, text only) is invariant to trailing columns, so the
      new-generation docs flow through the same feed.
    - v4: an equality tombstone (doc_id %{_DIX_MOD}=={_DIX_REM})
      masking docs of BOTH writer generations.

    The maintainer's exactly-once moves from version arithmetic to
    SOURCE-VERSION stamps read from the batch's own event rows —
    version counting breaks the moment a batch legitimately commits
    NOTHING (the metadata-only batch must leave the index log
    untouched, asserted: the log grows by zero commits across it, not
    land an empty commit), and a foreachBatch-id stamp breaks on a
    checkpoint-lost restart where ids reset to 0 while the reader's
    cursor survives (r13 review); a redelivered batch no-ops on the
    stamp.

    Asserted in-key: the feed delivered all 4 batches with batch 1
    (the metadata commit) EMPTY; the index log holds exactly 3
    commits stamped docs_version [1, 3, 4]; post-evolution docs are in
    the maintained index (the v3 slice's band rows present); and the
    capstone equality — maintained index == rebuild from the head's
    live docs — holds across the evolution boundary and the
    cross-generation delete.

    Scale: schema evolution stays O(1) metadata for the index
    pipeline end-to-end — no file is rewritten, no event is emitted,
    no index commit lands; the maintainer's per-batch cost is
    unchanged because the projected read never touches the evolved
    column. The stamp check is a KB manifest walk per batch."""
    import os

    from sparkgraft.streaming import (
        _doc_cdf_datasource,
        _drain_feed,
        _index_feed_maintainer,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]  # bounded scalar
    cut = (int(max_id) + 1) * _DIX_NUM // _DIX_DEN

    root = key_root(sf_dir, "idxevo")
    doc_log = os.path.join(root, "doclog")
    idx_log = os.path.join(root, "idxlog")
    ckpt = os.path.join(root, "ckpt")
    idx_root = os.path.join(root, "idx")
    for d in (doc_log, idx_log, idx_root):
        os.makedirs(d)

    base = docs.filter(F.col("doc_id") < cut).coalesce(1)
    commit_snapshot(doc_log, stage(base, os.path.join(root, "base")))  # v1
    # v2: the METADATA-ONLY add-column commit — zero file delta
    commit_snapshot(doc_log, [], extra={"schema_version": 2})
    # v3: post-evolution append, files CARRY the evolved column
    delta = stage(
        docs.filter(F.col("doc_id") >= cut)
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 2 == 0, F.lit("en")).otherwise(
                F.lit("de")
            ),
        )
        .coalesce(1),
        os.path.join(root, "delta"),
    )
    commit_snapshot(doc_log, delta)
    # v4: cross-generation equality tombstone
    t4 = stage(
        docs.select("doc_id")
        .filter(F.col("doc_id") % _DIX_MOD == _DIX_REM)
        .coalesce(1),
        os.path.join(root, MOR_DELETE_CLASS, "t4"),
    )
    commit_snapshot(doc_log, t4, extra={"op": "mor-delete"})

    delivered: list[tuple[int, int]] = []  # (batch_id, n_index_commits)
    # the stamp and the idempotency key are the batch's SOURCE version
    # (same discipline as dedup_index_asof); the metadata-only commit's
    # empty batch leaves the index log UNTOUCHED (invariance, not an
    # empty commit)
    maintain_index = _index_feed_maintainer(
        idx_log, idx_root, "doc_id",
        lambda ins: band_keys(minhash_signatures(ins)), "docs_version",
    )

    def maintain(batch_df: DataFrame, batch_id: int) -> None:
        maintain_index(batch_df, batch_id)
        delivered.append((int(batch_id), len(log_versions(idx_log))))

    spark.dataSource.register(_doc_cdf_datasource())
    _drain_feed(spark, "sparkgraft_doc_cdf", maintain, ckpt, log_dir=doc_log)

    if [b[0] for b in delivered] != [0, 1, 2, 3]:
        raise RuntimeError(f"feed batches wrong: {delivered}")
    # index log growth per batch: +1, +0 (metadata), +1, +1
    growth = [delivered[0][1]] + [
        delivered[i][1] - delivered[i - 1][1] for i in range(1, 4)
    ]
    metadata_batch_empty = growth == [1, 0, 1, 1]
    if not metadata_batch_empty:
        raise RuntimeError(f"index commit growth wrong: {growth}")
    idx_versions = log_versions(idx_log)
    stamps = [
        read_manifest(idx_log, v)["docs_version"] for v in idx_versions
    ]
    if stamps != [1, 3, 4]:
        raise RuntimeError(f"docs_version stamps wrong: {stamps}")

    head = read_manifest(idx_log, idx_versions[-1])["files"]
    maintained = mor_read(spark, head, "doc_id").localCheckpoint()

    # post-evolution docs ARE indexed (the v3 generation's live rows)
    n_evo = maintained.filter(F.col("doc_id") >= cut).count()
    n_evo_want = docs.filter(
        (F.col("doc_id") >= cut)
        & ~(F.col("doc_id") % _DIX_MOD == _DIX_REM)
    ).count() * _MINHASH_BANDS
    if n_evo != n_evo_want or n_evo == 0:
        raise RuntimeError(
            f"post-evolution rows {n_evo} != expected {n_evo_want}"
        )

    # capstone: maintained == rebuild from the head's live docs
    doc_head = head_files(doc_log)
    live_docs = mor_read(spark, doc_head, "doc_id").select(
        "doc_id", "text"
    )
    rebuilt = band_keys(minhash_signatures(live_docs))
    if not multisets_equal(maintained, rebuilt):
        raise RuntimeError(
            "maintained index diverged from rebuild across the evolution"
        )

    return (
        maintained.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("band_key").cast("long").alias("n_buckets"),
            F.sum(F.length("band_key")).cast("long").alias("len_sum"),
            F.min("band_key").alias("min_key"),
            F.max("band_key").alias("max_key"),
        )
        .select(
            F.lit(metadata_batch_empty).alias("metadata_batch_empty"),
            F.lit(True).alias("index_invariant_to_metadata"),
            F.lit(True).alias("post_evolution_indexed"),
            F.lit(len(idx_versions)).cast("int").alias("n_index_commits"),
            F.col("band").cast("int"),
            "n_docs",
            "n_buckets",
            "len_sum",
            "min_key",
            "max_key",
        )
        .orderBy("band")
    )
