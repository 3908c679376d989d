"""Text analysis operators over a documents table.

Every function here is pure built-in-function column algebra (no UDFs):
at 100 TB these are map-only expressions fused into the parquet scan by
whole-stage codegen — no shuffle, no Python.

Functions are written to be *oracle-portable*: the same arithmetic can
be expressed in ANSI SQL (DuckDB) so the driver's correctness gate can
hash-compare results.  That rules out engine-specific hashes in outputs
(xxhash64) — fingerprints use md5, available in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .materialize import materialize
from .relational import maybe_broadcast

# Tiny per-language stopword marker sets for the n-gram/stopword-count
# language-ID heuristic.  Chosen to be disjoint across languages.
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "fr": ["le", "la", "les"],
    "de": ["der", "und", "das"],
    "es": ["el", "los", "que"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank text)."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("long")


def char_count(text: Column) -> Column:
    return F.length(text).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """Cheap BPE-proportional estimate: ~1 token per 4 chars, at least the
    whitespace token count (a BPE tokenizer never merges across spaces)."""
    return F.greatest(F.ceil(F.length(text) / 4).cast("long"), token_count(text))


def avg_token_len(text: Column) -> Column:
    """Average token length in chars (NULL for blank text)."""
    nonspace = F.length(F.regexp_replace(text, r"\s", ""))
    n = token_count(text)
    return F.when(n > 0, nonspace / n).cast("double")


def occurrence_count(text: Column, word: str) -> Column:
    """Occurrences of ``word`` as a blank-delimited token.

    Implemented with the portable length-difference trick over
    ``' ' || text || ' '`` so the identical expression runs in DuckDB.
    Non-overlapping left-to-right replacement in both engines.
    """
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def lang_scores(text: Column) -> dict:
    """language → stopword-marker occurrence count."""
    return {
        lang: sum_cols([occurrence_count(text, w) for w in words])
        for lang, words in LANG_MARKERS.items()
    }


def sum_cols(cols: list) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out + c
    return out


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of marker counts, 'und' when all zero.

    Deterministic tie-break by the fixed order en > fr > de > es.
    """
    s = lang_scores(text)
    c = F.when(
        (s["en"] >= s["fr"]) & (s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] > 0),
        F.lit("en"),
    )
    c = c.when((s["fr"] >= s["de"]) & (s["fr"] >= s["es"]) & (s["fr"] > 0), F.lit("fr"))
    c = c.when((s["de"] >= s["es"]) & (s["de"] > 0), F.lit("de"))
    c = c.when(s["es"] > 0, F.lit("es"))
    return c.otherwise(F.lit("und"))


def fingerprint(text: Column) -> Column:
    """Canonical document fingerprint: md5 of lower-cased, space-normalized
    text.  md5 (not xxhash64) so DuckDB oracles can reproduce it."""
    canon = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(canon)


_ROLL_MOD = 2147483647  # 2^31 - 1 (Mersenne prime)
_ROLL_BASE = 31


def rolling_fingerprint(text: Column) -> Column:
    """Polynomial rolling-hash fingerprint (long) of the canonical text:
    ``h = fold(chars, 0, (h, c) -> (h*31 + codepoint(c)) mod (2^31-1))``.

    Unlike the md5 ``fingerprint`` this is incrementally updatable (the
    classic Rabin-Karp property: a streaming ingester can extend it per
    chunk without re-reading the document).  Arithmetic stays below
    2^36 so ANSI overflow checks never fire, and the identical fold is
    expressible in DuckDB (``list_reduce``) for the oracle.
    """
    canon = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    chars = F.split(canon, "")
    folded = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * _ROLL_BASE + F.ascii(c)) % F.lit(_ROLL_MOD),
    )
    return F.when(F.length(canon) == 0, F.lit(0).cast("long")).otherwise(folded)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length, token shape, stopword
    density.  Pure deterministic double arithmetic (oracle-portable)."""
    n = token_count(text)
    atl = F.coalesce(avg_token_len(text), F.lit(0.0))
    stop = sum_cols(list(lang_scores(text).values()))
    length_term = F.least(n / F.lit(200.0), F.lit(1.0)) * 0.5
    shape_term = F.when((atl >= 3.0) & (atl <= 8.0), F.lit(0.3)).otherwise(F.lit(0.0))
    stop_term = F.least(stop / F.greatest(n, F.lit(1)).cast("double"), F.lit(0.2))
    return (length_term + shape_term + stop_term).cast("double")


def token_shards(
    docs: DataFrame,
    tokens_per_shard: int = 2000,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign documents to training shards of ~``tokens_per_shard``
    whitespace tokens, packed in deterministic ``id_col`` order within
    each ``group_col`` partition.

    shard = floor((running_token_total - own_tokens) / budget): a
    document starts a new shard once the PRECEDING documents fill the
    budget, so shards overflow by at most one document (greedy packing).

    Scale: the window runs per group — cumulative sums never serialize
    the whole corpus through one partition, only one group (for a
    groupless global pack, pre-bucket by hash range first and pack
    bucket-by-bucket).  Output: (id, group, n_tokens, shard).
    """
    toks = token_count(F.col(text_col))
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return docs.select(
        F.col(id_col),
        F.col(group_col),
        toks.alias("n_tokens"),
    ).withColumn(
        "shard",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / tokens_per_shard).cast(
            "long"
        ),
    )


def text_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document stats frame: the standard pipeline feature set."""
    t = F.col(text_col)
    return docs.select(
        F.col(id_col),
        char_count(t).alias("n_chars"),
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_tokens_bpe"),
        avg_token_len(t).alias("avg_token_len"),
        lang_id(t).alias("lang_pred"),
        fingerprint(t).alias("fp"),
        quality_score(t).alias("quality"),
    )


def hash_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Deterministic content-hash train/val/test split.

    The split key is the md5 of the CANONICAL text (not the row id), so
    (a) exact duplicates always land in the same split — no train/test
    leakage from dup pairs, the property that matters for training
    corpora — and (b) the assignment is stable under re-sharding,
    re-ingestion, or id reassignment.  Map-only (no shuffle, no RNG);
    the md5 bucket arithmetic is engine-portable so a DuckDB oracle
    reproduces every assignment.

    Output: (id, bucket 0-99, split ∈ {train, val, test}).
    """
    canon = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    bucket = h % 100
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select(
        F.col(id_col), bucket.alias("bucket"), split.alias("split")
    )


def top_ngrams(
    docs: DataFrame,
    n: int = 3,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k word n-grams by DOCUMENT frequency (distinct per doc —
    shingle_frame dedups), ties broken by the n-gram string ascending.

    One map-side-combined shuffle on the n-gram, then a TakeOrdered
    top-k merge (no full sort).  This is the corpus-statistics feed for
    the d2 stop-shingle cap: anything surfacing here with df ~ corpus
    size is a cap candidate.
    """
    from .dedup import shingle_frame

    sh = shingle_frame(docs, n, id_col, text_col)
    return (
        sh.select(F.explode(F.col("_sh")).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("ngram"))
        .limit(k)
    )


def repetition_signals(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals per document:

    * ``n_words``          — whitespace word count,
    * ``distinct_frac``    — fraction of distinct words (low ⇒ repetitive),
    * ``dup_bigram_frac``  — fraction of repeated word bigrams,
    * ``top_word_frac``    — share of the single most frequent word.

    Scale design: the first three are pure array algebra (split /
    array_distinct / zip_with), map-only over the scan.  The top-word
    share needs a per-(doc, word) count, done as explode → two hash
    aggregates keyed by doc_id — partial aggregation combines map-side
    and nothing ever groups across documents, so skew is bounded by the
    longest single document, not the corpus.  All fractions are single
    IEEE divisions of exact integer counts (oracle-portable: no float
    accumulation anywhere).
    """
    t = F.col(text_col)
    ws = F.split(t, " ")
    n = F.size(ws)
    bigrams = F.zip_with(
        F.slice(ws, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(ws, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    base = docs.select(
        F.col(id_col),
        ws.alias("_ws"),
        n.cast("long").alias("n_words"),
        (F.size(F.array_distinct(ws)) / n).cast("double").alias("distinct_frac"),
        F.when(n < 2, F.lit(0.0))
        .otherwise(1.0 - F.size(F.array_distinct(bigrams)) / F.size(bigrams))
        .cast("double")
        .alias("dup_bigram_frac"),
    )
    top = (
        base.select(F.col(id_col), F.explode("_ws").alias("_w"))
        .groupBy(id_col, "_w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg(F.max("_c").alias("_mc"))
    )
    return (
        base.drop("_ws")
        .join(top, id_col)
        .select(
            id_col,
            "n_words",
            "distinct_frac",
            "dup_bigram_frac",
            (F.col("_mc") / F.col("n_words")).cast("double").alias("top_word_frac"),
        )
    )


def _eq_term(trm: str):
    # single-parameter lambda: a 2-arg lambda would make F.filter pass
    # the element *index* as the second argument
    return lambda w: w == F.lit(trm)


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 keyword search: top-``k`` documents for a fixed bag of query
    ``terms`` (Robertson/Spärck Jones idf, Lucene's +1 form).

    Scale design: per-term tf is ``size(filter(tokens, = term))`` —
    map-only column algebra fused into the scan, no explode and no
    (doc, term) shuffle.  Corpus statistics (N, Σdl, per-term df) are
    ONE tiny all-integer aggregate row, broadcast back with a literal
    cross join; scoring is again map-only and the top-k is Spark's
    TakeOrdered (no global sort).  Total cost: two scans of the corpus
    (or one if the stats are cached), zero wide shuffles.

    The per-term contributions are summed in fixed expression order so
    the IEEE result is reproducible across engines (oracle-portable);
    the score is rounded to 6 dp.

    Output: (doc_id, score) ordered by score desc, doc_id asc.
    """
    t = F.trim(F.col(text_col))
    toks = F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )
    base = docs.select(F.col(id_col), toks.alias("_ws")).select(
        F.col(id_col),
        F.size("_ws").cast("long").alias("_dl"),
        *[
            F.size(F.filter("_ws", _eq_term(trm))).cast("long").alias(f"_tf{i}")
            for i, trm in enumerate(terms)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_dl").alias("_sumdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    j = base.crossJoin(F.broadcast(stats))
    n = F.col("_n").cast("double")
    avgdl = F.col("_sumdl").cast("double") / n
    norm = F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("_dl").cast("double") / avgdl)

    def contrib(i: int) -> Column:
        tf = F.col(f"_tf{i}").cast("double")
        df = F.col(f"_df{i}").cast("double")
        idf = F.log((n - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1.0))
        return F.when(tf > 0, idf * tf * F.lit(k1 + 1.0) / (tf + norm)).otherwise(F.lit(0.0))

    score = contrib(0)
    for i in range(1, len(terms)):
        score = score + contrib(i)
    return (
        j.select(id_col, F.round(score, 6).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def contamination(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Train→test contamination check: for every *test*-split document,
    the fraction of its distinct word ``n``-gram shingles that occur in
    ANY *train*-split document (the decontamination signal an eval-set
    builder runs before training).

    Scale design: the train shingle vocabulary is one explode + hash
    aggregate (distinct), shuffled on the shingle string — a
    high-cardinality, well-distributed key; the test side explodes and
    left-joins that vocabulary on the same key, then re-aggregates per
    doc.  Nothing is ever quadratic: cost is O(total shingles) with two
    shuffles on the shingle key plus one tiny per-doc aggregate.  At
    100 TB, prune the vocabulary side first with a bloom filter on the
    test shingles (the test split is orders of magnitude smaller).

    Output: (doc_id, n_shingles, n_contaminated, contamination_frac),
    one row per test doc, including shingle-less docs at 0.0.
    """
    from .dedup import shingle_frame

    splits = hash_split(docs, id_col, text_col, train_pct, val_pct)
    sh = shingle_frame(docs, n, id_col, text_col).join(
        splits.select(id_col, "split"), id_col
    )
    train_vocab = (
        sh.filter(F.col("split") == "train")
        .select(F.explode("_sh").alias("sh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    test = sh.filter(F.col("split") == "test")
    hits = (
        test.select(F.col(id_col), F.explode("_sh").alias("sh"))
        .join(train_vocab, "sh", "left")
        .groupBy(id_col)
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated"))
    )
    return (
        test.select(F.col(id_col), F.size("_sh").cast("long").alias("n_shingles"))
        .join(hits, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("long").alias("n_contaminated"),
            F.when(
                F.col("n_shingles") > 0,
                F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("double")
                / F.col("n_shingles").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("contamination_frac"),
        )
    )


# default redaction classes: email, phone-shaped digit runs, and a
# caller-extendable word class (the fixture corpus is synthetic word
# soup, so driver queries add a corpus-word surrogate to exercise the
# path end-to-end; real corpora hit the email/phone classes)
PII_PATTERN = (
    r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-z]{2,}"
    r"|\b\d{3}[-. ]\d{3,4}[-. ]\d{4}\b"
)


def redact_pii(
    docs: DataFrame,
    pattern: str = PII_PATTERN,
    marker: str = "[PII]",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Regex PII redaction: replace every match of ``pattern`` with
    ``marker``, reporting the match count and a fingerprint of the
    redacted text.

    Scale design: pure built-in column algebra (regexp_count /
    regexp_replace / md5) — map-only, fused into the parquet scan by
    whole-stage codegen, no shuffle and no Python.  The pattern is
    restricted to the RE2-compatible subset (no backrefs/lookaround) so
    the same regex runs identically in the DuckDB oracle.

    Output: (doc_id, n_redacted, clean_chars, redacted_fp).
    """
    t = F.col(text_col)
    red = F.regexp_replace(t, pattern, marker)
    return docs.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(pattern)).cast("long").alias("n_redacted"),
        F.length(red).cast("long").alias("clean_chars"),
        F.md5(red).alias("redacted_fp"),
    )


def chunk_passages(
    docs: DataFrame,
    size: int = 16,
    stride: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window passage chunking: split each document into
    whitespace tokens and emit overlapping ``size``-token chunks every
    ``stride`` tokens — the context-window preparation step of a
    training pipeline (and the unit for passage-level dedup: group the
    emitted fingerprints exactly like d1 does for whole documents).

    Scale design: split → sequence → posexplode → slice is all built-in
    array algebra — one narrow (map-side) explode with fan-out
    ``≈ n_tokens/stride``, no shuffle, no Python.  Chunk text is
    reassembled only to fingerprint it; downstream consumers keep the
    token array.

    Output: (doc_id, chunk_idx, start_token, n_tokens, chunk_fp), one
    row per chunk; documents shorter than ``size`` yield one chunk.
    """
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    # 1-based chunk starts: 1, 1+stride, ... while start <= n
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
    return (
        docs.select(F.col(id_col), words.alias("_w"), F.posexplode(starts).alias("_i", "_start"))
        .select(
            F.col(id_col),
            F.col("_i").cast("long").alias("chunk_idx"),
            F.col("_start").cast("long").alias("start_token"),
            F.size(F.slice(F.col("_w"), F.col("_start"), size)).cast("long").alias("n_tokens"),
            F.md5(F.array_join(F.slice(F.col("_w"), F.col("_start"), size), " ")).alias("chunk_fp"),
        )
    )


def hash_sample(
    docs: DataFrame,
    pct: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic content-hash Bernoulli sample: keep a document iff
    its canonical-text md5 bucket (0-99) falls below ``pct``.

    The training-corpus sampling primitive: no RNG state, stable under
    re-sharding/re-ingestion, exact duplicates sample together (same
    bucket), and two pipelines drawing pct=10 and pct=20 samples get
    NESTED subsets (the smaller is contained in the larger) — none of
    which ``df.sample`` guarantees.  Map-only, fused into the scan.

    Output: the sampled (id, bucket) rows.
    """
    canon = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    return (
        docs.select(F.col(id_col), (h % 100).alias("bucket"))
        .where(F.col("bucket") < pct)
    )


def char_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int = 6,
) -> DataFrame:
    """Shannon entropy (bits) of each document's character distribution
    — the cheap gibberish/repetition quality signal (natural language
    sits ~4 bits; single-character spam near 0; uniform noise near
    log2(alphabet)).

    Scale design: explode characters → one (doc, char) count aggregate
    → per-doc entropy fold.  The shuffle key (doc_id, char) is
    high-cardinality and uniform; the explode fan-out equals document
    length, the same cost class as shingling.  Entropy rounds to
    ``round_dp`` so the float log/division order can't drift vs the
    oracle.

    Output: (doc_id, n_chars, entropy_bits).
    """
    chars = (
        # split('', '') yields [''] (one bogus empty char), so empty
        # documents take the explicit zero-entropy branch below
        docs.where(F.length(F.col(text_col)) > 0)
        .select(F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("_c"))
        .groupBy(id_col, "_c")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    tot = chars.groupBy(id_col).agg(F.sum("_n").alias("_t"))
    ent = (
        chars.join(tot, id_col)
        .withColumn("_p", F.col("_n") / F.col("_t"))
        .groupBy(id_col)
        .agg(
            F.first("_t").alias("n_chars"),
            F.round(-F.sum(F.col("_p") * F.log2(F.col("_p"))), round_dp).alias(
                "entropy_bits"
            ),
        )
    )
    empty = docs.where(F.length(F.col(text_col)) == 0).select(
        F.col(id_col),
        F.lit(0).cast("long").alias("n_chars"),
        F.lit(0.0).alias("entropy_bits"),
    )
    return ent.unionByName(empty)


def doc_frequency(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    round_dp: int = 6,
) -> DataFrame:
    """Corpus document-frequency / IDF table: for every token, the
    number of documents containing it and ``ln(N/df)`` — the vocabulary
    statistic behind quality filters, rare-word screens and TF-IDF.

    Scale design: tokens are deduplicated PER DOCUMENT before the
    corpus aggregate (``array_distinct`` map-side), so the shuffle
    carries at most |doc|·|vocab-per-doc| rows and the token-count
    aggregate is map-side combined.  The corpus size N joins as a
    broadcast 1-row aggregate — never a driver-side ``count()`` in the
    plan.  ``min_df`` prunes the hapax tail (typically ~half the
    vocabulary) from the output.  IDF rounds to ``round_dp`` so float
    ``ln`` agrees with any oracle bit-for-bit.

    Output: (token, df, idf), df ≥ min_df.
    """
    toks = docs.select(
        F.explode(
            F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
        ).alias("token")
    ).where(F.col("token") != "")
    n = docs.agg(F.count(F.lit(1)).alias("_n"))
    tab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return (
        tab.where(F.col("df") >= min_df)
        .join(F.broadcast(n))
        .select(
            "token",
            "df",
            F.round(F.log(F.col("_n") / F.col("df")), round_dp).alias("idf"),
        )
        .orderBy(F.desc("df"), F.asc("token"))
    )


def stratified_sample(
    docs: DataFrame,
    strata: tuple = ("lang",),
    cap: int = 50,
    id_col: str = "doc_id",
    salt: str = "strat1",
) -> DataFrame:
    """Deterministic per-stratum capped sample: at most ``cap``
    documents per stratum, chosen by md5 order of the salted id — the
    corpus-balancing primitive (cap each language/source so one
    stratum can't dominate a training mix).

    Like ``hash_sample``, selection is content-independent RNG-free
    hashing: re-runs, re-shards and incremental loads agree on which
    documents are in.  One shuffle on the strata key; the window
    row_number only sorts WITHIN each stratum's partition.  At extreme
    stratum skew (one stratum = the whole corpus), swap the window for
    the documented two-phase trick: filter to hash < adaptive
    threshold, then exact-rank the survivors.

    Output: (id, *strata, sample_rank) with sample_rank ≤ cap.
    """
    from pyspark.sql.window import Window

    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    w = Window.partitionBy(*[F.col(s) for s in strata]).orderBy(
        h.asc(), F.col(id_col).asc()
    )
    return (
        docs.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= cap)
        .select(F.col(id_col), *strata, F.col("_rk").cast("long").alias("sample_rank"))
    )


def quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    max_tokens: int = 1000,
    atl_lo: float = 3.0,
    atl_hi: float = 8.0,
    min_quality: float = 0.5,
    keep_input_cols: bool = False,
) -> DataFrame:
    """Composite corpus-cleaning verdict (the C4/Gopher-style gate
    cascade): length window → token-shape band → composite quality
    floor, with the FIRST failing gate recorded as the reject reason —
    what a pipeline needs to audit WHY documents drop, not just which.

    Map-only: every gate is built from the same single-pass column
    algebra as ``text_stats`` (no UDF, no shuffle, fused into the
    scan); filtering ``keep`` yields the cleaned corpus, grouping by
    ``reject_reason`` yields the drop report.

    ``keep_input_cols=True`` carries every input column through next to
    the verdict columns, so a consumer that needs the surviving DOCS
    (not just the verdict) can ``where("keep")`` directly instead of
    joining the verdict frame back against ``docs`` — that join is a
    self-join of the corpus (two scans + a shuffle) that a map-only
    gate never needs (r15 optimization: corpus_build_funnel paid it
    per run).

    Output: (doc_id, n_tokens, avg_token_len, quality, keep,
    reject_reason) — reject_reason NULL when keep; input columns first
    when ``keep_input_cols``.
    """
    t = F.col(text_col)
    n = token_count(t)
    atl = F.coalesce(avg_token_len(t), F.lit(0.0))
    q = quality_score(t)
    reason = (
        F.when(n < min_tokens, F.lit("too_short"))
        .when(n > max_tokens, F.lit("too_long"))
        .when((atl < atl_lo) | (atl > atl_hi), F.lit("token_shape"))
        .when(q < min_quality, F.lit("low_quality"))
    )
    if keep_input_cols:
        # fail loudly instead of emitting duplicate column names: a docs
        # frame already carrying a verdict-named column would make the
        # consumer's where("keep")/drop ambiguous or silently wrong
        clash = set(docs.columns) & {
            "n_tokens", "avg_token_len", "quality", "keep", "reject_reason"
        }
        if clash:
            raise ValueError(
                f"quality_filter(keep_input_cols=True): docs already has "
                f"verdict column(s) {sorted(clash)} — rename them first"
            )
    lead = (
        [F.col(c) for c in docs.columns]
        if keep_input_cols
        else [F.col(id_col)]
    )
    return docs.select(
        *lead,
        n.alias("n_tokens"),
        atl.alias("avg_token_len"),
        q.alias("quality"),
        reason.isNull().alias("keep"),
        reason.alias("reject_reason"),
    )


def partitioned_corpus_stats(
    docs: DataFrame,
    out_dir: str,
    lang: str = "en",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Write the corpus hive-partitioned by (lang) and answer a
    one-language rollup from the written layout — the partition-pruning
    path every petabyte corpus depends on (a reader that scans all
    languages to answer an English query is wrong at any scale).

    The read back carries ``lang = 'x'`` as a PARTITION filter: Spark
    lists only that directory — the other partitions are never opened
    (asserted by the plan guard in tests).  Writes are idempotent
    (overwrite) and the layout is what a downstream training job would
    consume per-language.

    Output: per-source (n_docs, total_chars) for the requested lang.
    """
    docs.write.mode("overwrite").partitionBy("lang").parquet(out_dir)
    back = docs.sparkSession.read.parquet(out_dir).where(F.col("lang") == lang)
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length(F.col(text_col))).alias("total_chars"),
        )
        .orderBy("source")
    )


def langid_confusion(
    docs: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Language-ID evaluation: confusion counts of declared language vs
    the heuristic ``lang_id`` prediction — the eval loop that keeps a
    classifier honest as the corpus drifts (pair of ``s7_ann_recall``
    for the text side).

    Map-only scoring + one tiny (lang, lang_pred) aggregate.
    Output: (lang, lang_pred, n_docs).
    """
    return (
        docs.select(F.col(lang_col), lang_id(F.col(text_col)).alias("lang_pred"))
        .groupBy(lang_col, "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(lang_col, "lang_pred")
    )


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unigram language-model score per document: the mean log-probability
    of a doc's tokens under the corpus's own unigram distribution — the
    classic cheap fluency/quality signal (a KenLM proxy) used to rank
    documents before an expensive model sees them.

    Scale design: one explode+aggregate builds the token frequency
    table (map-side combined, shuffled on the token — high cardinality,
    well spread); the corpus total is a 1-row aggregate cross-joined
    in (a literal, not a window over one partition).  The scoring join
    broadcasts the frequency table — vocabulary grows ~log(corpus), a
    few GB at web scale; swap to a shuffle join on ``tok`` if the
    vocabulary outgrows the driver.  Scoring aggregate re-shuffles on
    doc_id only.

    Output: (doc_id, n_tokens, avg_logprob), logprob natural-log,
    rounded to 6 dp.
    """
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).where(F.col("tok") != "")
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_tf"))
    total = freq.agg(F.sum("_tf").alias("_tot"))
    # fold the 1-row total into the vocabulary BEFORE its (size-gated —
    # vocab grows with corpus) broadcast: the corpus-side plan is then a
    # single hash join; the benign vocab × 1-row nested loop never
    # touches fact-table rows
    freq = freq.crossJoin(F.broadcast(total))
    scored = toks.join(maybe_broadcast(freq), "tok")
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(F.log(F.col("_tf") / F.col("_tot"))) / F.count(F.lit(1)), 6
            ).alias("avg_logprob"),
        )
        .orderBy(id_col)
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = 256,
    round_dp: int = 6,
) -> DataFrame:
    """Sparse bag-of-words similarity: TF-IDF cosine between document
    pairs via an inverted index — the no-embedding-model similarity
    path (and the weighting that, unlike raw Jaccard, down-ranks
    stopword overlap).

    Scale design: the pair join is the d2 inverted-index shape —
    postings shuffle on the (high-cardinality) token key, pairs only
    materialize when they share a token, and ``max_df`` caps posting
    lists so one stopword cannot contribute df² join rows (at web
    scale the cap also deletes ~nothing from the score: ubiquitous
    tokens carry ~zero IDF weight anyway).  TF, DF, norms, and the
    dot-product each reduce with map-side combine; nothing is
    quadratic in the corpus.

    Output: (id_a, id_b, cosine) with id_a < id_b, cosine >= threshold.
    """
    toks = docs.select(
        F.col(id_col).alias("_did"),
        F.explode(F.split(F.col(text_col), " ")).alias("_tok"),
    ).where(F.col("_tok") != "")
    tf = toks.groupBy("_did", "_tok").agg(F.count(F.lit(1)).alias("_tf"))
    df_ = tf.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    if max_df is not None:
        df_ = df_.filter(F.col("_df") <= max_df)
    n_docs = docs.select(F.col(id_col)).agg(F.count(F.lit(1)).alias("_n"))
    # fold the 1-row corpus count into the vocabulary-sized DF table
    # BEFORE it broadcasts into the corpus join: the nested-loop join is
    # vocab × 1 row; corpus-scale rows only ever see hash joins
    df_ = df_.crossJoin(F.broadcast(n_docs))
    w = (
        tf.join(df_, on="_tok")
        .select(
            "_did",
            "_tok",
            (F.col("_tf") * F.log(F.col("_n") / F.col("_df"))).alias("_w"),
        )
    )
    norms = w.groupBy("_did").agg(F.sqrt(F.sum(F.col("_w") * F.col("_w"))).alias("_nm"))
    w = w.join(norms, on="_did")
    a = w.select(
        F.col("_tok"),
        F.col("_did").alias("id_a"), F.col("_w").alias("_wa"), F.col("_nm").alias("_na"),
    )
    b = w.select(
        F.col("_tok"),
        F.col("_did").alias("id_b"), F.col("_w").alias("_wb"), F.col("_nm").alias("_nb"),
    )
    return (
        a.join(b, on="_tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "_na", "_nb")
        .agg(F.sum(F.col("_wa") * F.col("_wb")).alias("_dot"))
        .select(
            "id_a",
            "id_b",
            F.round(F.col("_dot") / (F.col("_na") * F.col("_nb")), round_dp).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )


def source_kl_divergence(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    round_dp: int = 6,
) -> DataFrame:
    """Domain-shift detector: KL(source ‖ corpus) over unigram
    distributions — how far each source's token mix drifts from the
    corpus average.  The signal behind domain-mixing weights and
    "this crawl slice changed" alerts.

    Scale design: one explode feeds BOTH aggregates — per-(source,
    token) counts (shuffle on the pair key) and, re-aggregated from
    those counts, the corpus token counts — so the fact table is
    scanned once and the corpus table is vocabulary-sized.  Totals are
    per-group 1-row aggregates joined back broadcast-style; the KL sum
    reduces per source with map-side combine.  Every source token
    appears in the corpus by construction, so no smoothing is needed.

    Output: (source, n_tokens, kl) with KL in nats, rounded.
    """
    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    stf = toks.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("_stf"))
    ctf = stf.groupBy("tok").agg(F.sum("_stf").alias("_ctf"))
    stot = stf.groupBy("grp").agg(F.sum("_stf").alias("_stot"))
    ctot = ctf.agg(F.sum("_ctf").alias("_ctot"))
    # 1-row corpus total folded into the vocabulary table pre-broadcast
    # (nested loop is vocab × 1 row, never per-(source, token) rows)
    ctf = ctf.crossJoin(F.broadcast(ctot))
    p = F.col("_stf") / F.col("_stot")
    q = F.col("_ctf") / F.col("_ctot")
    return (
        stf.join(maybe_broadcast(ctf), "tok")
        .join(maybe_broadcast(stot), "grp")
        .groupBy(F.col("grp").alias(group_col))
        .agg(
            F.sum("_stf").alias("n_tokens"),
            F.round(F.sum(p * F.log(p / q)), round_dp).alias("kl"),
        )
        .orderBy(group_col)
    )


def span_corruption_plan(
    docs: DataFrame,
    mask_pct: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """T5-style span-corruption plan: deterministic mask spans per
    document — which contiguous token runs a denoising objective blanks
    out.  Emitting the PLAN (offsets, not rewritten text) keeps the
    expensive rewrite in the training loader while the corpus job stays
    reproducible: the mask decision is a pure hash of (doc, position),
    so every re-run and every oracle replay selects identical spans.

    A token masks when its md5-derived byte < mask_pct·256/100;
    adjacent masked tokens collapse into one span (lag + cumulative
    span numbering — the scd2 run-collapse shape, per-doc windows over
    bounded doc lengths, never a global sort).

    Output: (doc_id, span_id, start_pos, end_pos, n_tokens) with
    0-based inclusive token positions and span_id numbering a doc's
    spans from 1 in order.
    """
    from pyspark.sql.window import Window as W

    cut = mask_pct * 256 // 100
    toks = (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
        )
        .where(F.col("tok") != "")
        # posexplode emits int32 positions; widen to long so start_pos /
        # end_pos come out int64 like every other position column (and
        # like the BIGINT the DuckDB oracle produces).
        .withColumn("pos", F.col("pos").cast("long"))
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col("pos").cast("string"))),
            1, 2,
        ),
        16, 10,
    ).cast("int")
    w = W.partitionBy(id_col).orderBy("pos")
    flagged = toks.withColumn("_m", h < cut).withColumn(
        "_new", (F.col("_m") & ~F.coalesce(F.lag("_m").over(w), F.lit(False))).cast("int")
    )
    numbered = flagged.withColumn(
        "_span", F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        numbered.where(F.col("_m"))
        .groupBy(id_col, F.col("_span").alias("span_id"))
        .agg(
            F.min("pos").alias("start_pos"),
            F.max("pos").alias("end_pos"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .orderBy(id_col, "span_id")
    )


def decontaminated_train(
    docs: DataFrame,
    max_overlap: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """The other direction of ``contamination``: the TRAIN-side purge
    manifest.  A training document sharing more than ``max_overlap`` of
    its shingles with the test split gets ``keep = false`` — the
    eval-integrity filter a pipeline applies before the corpus ships.

    Same two shingle-keyed shuffles as ``contamination`` (test vocab is
    the smaller side by construction — the test split is ~10% of the
    corpus — so its distinct-shingle table is the one that builds the
    hash side).  Output: (doc_id, n_shingles, test_overlap_frac, keep).
    """
    from .dedup import shingle_frame

    splits = hash_split(docs, id_col, text_col, train_pct, val_pct)
    sh = shingle_frame(docs, n, id_col, text_col).join(
        splits.select(id_col, "split"), id_col
    )
    test_vocab = (
        sh.filter(F.col("split") == "test")
        .select(F.explode("_sh").alias("sh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    train = sh.filter(F.col("split") == "train")
    hits = (
        train.select(F.col(id_col), F.explode("_sh").alias("sh"))
        .join(test_vocab, "sh", "left")
        .groupBy(id_col)
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("_n_hit"))
    )
    frac = F.when(
        F.col("n_shingles") > 0,
        F.coalesce(F.col("_n_hit"), F.lit(0)).cast("double")
        / F.col("n_shingles").cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        train.select(F.col(id_col), F.size("_sh").cast("long").alias("n_shingles"))
        .join(hits, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.round(frac, 6).alias("test_overlap_frac"),
            (F.round(frac, 6) <= max_overlap).alias("keep"),
        )
        .orderBy(id_col)
    )


def corpus_card(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The one-row corpus datasheet: document/token/vocabulary counts,
    exact-duplicate rate, mean quality, and source-mix entropy — the
    summary a dataset release publishes and a pipeline diffs between
    snapshots.

    One explode feeds tokens and vocabulary; dup rate reuses the
    ``fingerprint`` aggregate; source entropy is a two-level aggregate
    over the (bounded) source key.  Everything reduces map-side; the
    result is a single row however large the corpus.

    Output: (n_docs, n_tokens, vocab_size, dup_rate, avg_quality,
    source_entropy).
    """
    toks = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).where(F.col("tok") != "")
    tok_stats = toks.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct(F.col("tok")).alias("vocab_size"),
    )
    fps = docs.select(fingerprint(F.col(text_col)).alias("fp"))
    dup = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_c")).agg(
        F.sum(F.col("_c") - 1).alias("_n_dup"), F.sum("_c").alias("_n_docs")
    )
    src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("_c"))
    ent = (
        src.crossJoin(F.broadcast(src.agg(F.sum("_c").alias("_t"))))
        .agg(
            F.round(
                -F.sum((F.col("_c") / F.col("_t")) * F.log(F.col("_c") / F.col("_t"))),
                6,
            ).alias("source_entropy")
        )
    )
    q = docs.agg(F.round(F.avg(quality_score(F.col(text_col))), 6).alias("avg_quality"))
    return (
        dup.crossJoin(F.broadcast(tok_stats))
        .crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(ent))
        .select(
            F.col("_n_docs").alias("n_docs"),
            "n_tokens",
            "vocab_size",
            F.round(F.col("_n_dup") / F.col("_n_docs"), 6).alias("dup_rate"),
            "avg_quality",
            "source_entropy",
        )
    )


def bigram_pmi(
    docs: DataFrame,
    min_count: int = 5,
    text_col: str = "text",
    round_dp: int = 6,
) -> DataFrame:
    """Collocation extraction: pointwise mutual information of adjacent
    token pairs — PMI = ln(p(ab) / (p(a)·p(b))) — the statistic that
    separates real phrases ("machine learning") from chance
    adjacency; the vocabulary-building signal for tokenizer merges and
    phrase mining.

    One pass builds bigrams positionally (zip the token array with its
    tail — map-side, no self-join); unigram and bigram counts reduce
    with map-side combine; the PMI join is two broadcast-sized
    (vocabulary) hash joins.  ``min_count`` drops noise pairs before
    scoring.

    Output: (tok_a, tok_b, n_pair, pmi) for pairs with
    n_pair >= min_count.
    """
    toks = docs.select(
        F.split(F.col(text_col), " ").alias("_ts")
    ).select(F.filter(F.col("_ts"), lambda t: t != "").alias("_ts"))
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("_ts"), 1, F.greatest(F.size("_ts") - 1, F.lit(0))),
                F.slice(F.col("_ts"), 2, F.greatest(F.size("_ts") - 1, F.lit(0))),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("_bg")
    ).select(F.col("_bg.a").alias("tok_a"), F.col("_bg.b").alias("tok_b"))
    uni = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).where(F.col("tok") != "").groupBy("tok").agg(F.count(F.lit(1)).alias("_n"))
    n_tokens = uni.agg(F.sum("_n").alias("_nt"))
    n_pairs = bigrams.count()
    pair_counts = (
        bigrams.groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= min_count)
    )
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("_n").alias("_na"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("_n").alias("_nb"))
    p_pair = F.col("n_pair") / F.lit(n_pairs)
    joined = (
        pair_counts.join(maybe_broadcast(ua), "tok_a")
        .join(maybe_broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(n_tokens))
    )
    pmi = F.log(
        p_pair / ((F.col("_na") / F.col("_nt")) * (F.col("_nb") / F.col("_nt")))
    )
    return joined.select(
        "tok_a", "tok_b", "n_pair", F.round(pmi, round_dp).alias("pmi")
    ).orderBy("tok_a", "tok_b")


def template_prefixes(
    docs: DataFrame,
    n_tokens: int = 5,
    min_docs: int = 3,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Boilerplate template mining: document PREFIXES (first
    ``n_tokens`` tokens) shared by many documents — the crawl-header /
    mirror-page detector that near-dup pipelines miss when bodies
    diverge after a templated opening.

    Map-side prefix extraction (one slice per row), then a single
    aggregate on the prefix key with a distinct-source count — a
    template spanning many sources is a mirror; one source is a site
    header.  ``min_docs`` floors the report.

    Output: (prefix, n_docs, n_sources).
    """
    prefix = F.concat_ws(
        " ", F.slice(F.split(F.col(text_col), " "), 1, n_tokens)
    )
    return (
        docs.select(prefix.alias("prefix"), F.col(source_col))
        .groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.col(source_col)).alias("n_sources"),
        )
        .where(F.col("n_docs") >= min_docs)
        .orderBy("prefix")
    )


def mixture_rates(
    docs: DataFrame,
    budget_frac: float = 0.6,
    source_col: str = "source",
    weight_col: str = "n_chars",
    round_dp: int = 6,
) -> DataFrame:
    """Per-source sampling rates that hit a target corpus mixture under
    availability caps — the "data mixing" step of every pretraining
    pipeline (uniform target share per source here; swap the target
    expression for hand-tuned weights).

    Water-filling, one redistribution round: each source's uniform
    target is capped at its availability; the surplus from capped
    sources is redistributed proportionally across uncapped ones (a
    second overflow would iterate — one round is exact when at most one
    tier of sources saturates, and is documented as approximate beyond).

    Scale shape: one aggregate per source (map-side combined), then
    pure arithmetic over the |sources|-row frame — the corpus is
    scanned ONCE regardless of rounds.  Output per source:
    (source, avail, target, capped, final_rate, expected).
    """
    per = docs.groupBy(source_col).agg(
        F.sum(weight_col).cast("double").alias("avail")
    )
    tot = per.agg(
        F.sum("avail").alias("_tot"), F.count(F.lit(1)).alias("_ns")
    )
    base = per.crossJoin(F.broadcast(tot)).select(
        source_col,
        "avail",
        (F.col("_tot") * F.lit(float(budget_frac)) / F.col("_ns")).alias("target"),
    )
    base = base.withColumn("capped", F.col("target") > F.col("avail"))
    redis = base.agg(
        F.sum(F.when(F.col("capped"), F.col("target") - F.col("avail")).otherwise(0.0)).alias("_surplus"),
        F.sum(F.when(~F.col("capped"), F.col("target")).otherwise(0.0)).alias("_open"),
    )
    out = base.crossJoin(F.broadcast(redis)).select(
        source_col,
        "avail",
        F.round("target", round_dp).alias("target"),
        "capped",
        F.round(
            F.when(F.col("capped"), F.lit(1.0)).otherwise(
                F.least(
                    F.lit(1.0),
                    (F.col("target") + F.col("_surplus") * F.col("target") / F.col("_open"))
                    / F.col("avail"),
                )
            ),
            round_dp,
        ).alias("final_rate"),
    )
    return out.withColumn(
        "expected", F.round(F.least(F.col("final_rate") * F.col("avail"), F.col("avail")), round_dp)
    ).orderBy(source_col)


def blocklist_filter(
    docs: DataFrame,
    blocklist: tuple = ("slow", "corrupt", "spam"),
    max_share: float = 0.05,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-level blocklist screening: per document, occurrences of
    blocked tokens (multi-count, not distinct), their share of all
    tokens, and the keep/reject flag at ``max_share`` — the lexical
    safety/quality gate every corpus pipeline runs before training.

    Map-only column algebra: tokens → higher-order ``filter`` against
    the inlined blocklist array → counts; no UDF, no shuffle (the
    blocklist is a literal; a 10⁵-term list would broadcast-join a
    token explode instead).
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    blocked = F.filter(
        toks, lambda t: F.array_contains(F.array(*[F.lit(b) for b in blocklist]), t)
    )
    n_tok = F.when(F.trim(F.col(text_col)) == "", F.lit(0)).otherwise(F.size(toks))
    n_blk = F.when(F.trim(F.col(text_col)) == "", F.lit(0)).otherwise(F.size(blocked))
    share = F.when(n_tok > 0, F.round(n_blk / n_tok, 6)).otherwise(F.lit(0.0))
    return docs.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
        n_blk.cast("long").alias("n_blocked"),
        share.alias("blocked_share"),
        (share <= F.lit(max_share)).alias("keep"),
    )


def sequence_packing(
    docs: DataFrame,
    max_len: int = 512,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-length training-example packing with a padding-waste
    report: documents (truncated at ``max_len``) are laid head-to-tail
    in deterministic id order per group and cut into ``max_len``-token
    examples at document boundaries (a document never spans two
    examples — the t3 cumulative-budget trick at example grain, the
    "greedy concat then cut" packing most LM pipelines run).

    Per example: docs packed, tokens used, padding tokens wasted, and
    the pack efficiency — THE metric that decides whether packing is
    worth the attention-mask complexity.  One window per group; no
    sequential driver loop.

    Output: (group, example, n_docs, used_tokens, pad_tokens,
    efficiency).
    """
    from pyspark.sql.window import Window

    toks = F.least(token_count(F.col(text_col)), F.lit(max_len))
    # budget-cut packing (the t3 rule): doc d joins example
    # floor(cum_before / max_len), so an example overflows by AT MOST
    # the one document that crosses its boundary (reported as
    # used_tokens > max_len with pad 0) — the relational stand-in for
    # sequential first-fit, one window, no driver loop.
    base = docs.select(
        F.col(id_col), F.col(group_col).alias("group"), toks.alias("_t")
    ).withColumn("_cum_before", F.sum("_t").over(
        Window.partitionBy("group").orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ) - F.col("_t"))
    # example index by capacity: doc d goes to example floor(cum_before/max_len)
    # BUT docs crossing the boundary shift — resolve with the shard trick,
    # then recompute the real fill per example
    assigned = base.withColumn(
        "example", F.floor(F.col("_cum_before") / max_len).cast("long")
    )
    per_ex = assigned.groupBy("group", "example").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_t").cast("long").alias("used_tokens"),
    )
    return per_ex.select(
        "group",
        "example",
        "n_docs",
        "used_tokens",
        (F.lit(max_len) - F.least(F.col("used_tokens"), F.lit(max_len)))
        .cast("long")
        .alias("pad_tokens"),
        F.round(
            F.least(F.col("used_tokens"), F.lit(max_len)) / F.lit(float(max_len)), 6
        ).alias("efficiency"),
    ).orderBy("group", "example")


def temperature_mixing(
    docs: DataFrame,
    alpha: float = 0.7,
    budget: int = 1_000_000,
    source_col: str = "source",
    text_col: str = "text",
    round_dp: int = 6,
) -> DataFrame:
    """Temperature-based source mixing weights — the multilingual /
    multi-corpus rebalancing rule (sample source i with
    p_i ∝ n_i^alpha, alpha<1 upsamples the tail): per source, its token
    count, unnormalized weight, mixing probability, and the effective
    epochs over that source at a fixed token ``budget``
    (epochs > 1 ⇒ the schedule repeats the source; the overfitting
    signal a data-mixing review reads first).

    Scale design: ONE aggregate over the corpus (token counts are a
    map-side-combined SUM of per-doc whitespace counts — no explode);
    everything after is arithmetic on |sources| rows.  Determinism:
    n^alpha is one libm pow per source (no data-order dependence);
    weights round to ``round_dp`` BEFORE the normalizing sum, which
    then accumulates exactly in DECIMAL — the label_centroid_stats
    round-then-exact-sum discipline, so partial-aggregation order can
    never move the probabilities and a SQL oracle reproduces every bit.

    Output: (source, n_tokens, weight, mix_prob, epochs) by source.
    """
    ntok = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    per = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(
            F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)).otherwise(ntok)
        ).alias("n_tokens")
    )
    w6 = F.round(F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha))), round_dp)
    per = per.withColumn("weight", w6)
    total = per.agg(
        F.sum(F.col("weight").cast(f"decimal(25,{round_dp})")).cast("double").alias("_t")
    )
    return (
        per.crossJoin(F.broadcast(total))  # 1-row aggregate: bounded
        .select(
            "source",
            "n_tokens",
            "weight",
            F.round(F.col("weight") / F.col("_t"), round_dp).alias("mix_prob"),
            F.round(
                F.round(F.col("weight") / F.col("_t"), round_dp)
                * F.lit(float(budget)) / F.col("n_tokens"),
                4,
            ).alias("epochs"),
        )
        .orderBy("source")
    )


def corpus_build_funnel(
    docs: DataFrame,
    max_len: int = 512,
    budget_frac: float = 0.6,
    max_overlap: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    embeddings: DataFrame | None = None,
    emb_bands: list | None = None,
    emb_threshold: float = 0.4,
    emb_id_col: str = "vec_id",
    media: DataFrame | None = None,
    media_bands: int = 4,
    media_id_col: str = "media_id",
    media_payload_col: str = "payload",
) -> DataFrame:
    """The END-TO-END corpus-build pipeline as ONE query with a
    per-stage funnel receipt (round-13 verdict item 3): the tiers that
    exist separately — quality gates (t15), exact dedup (d1's
    manifest), content-hash split (t26 family), train-side
    decontamination (t22), mixture water-filling (t27), sequence
    packing (t29) — CHAINED in the order a real 100-TB pretraining
    pipeline runs them, each stage consuming the previous stage's
    SURVIVORS.  Composition is where stage-boundary bugs live (purging
    before splitting leaks dups across splits; computing the mixture
    before dedup over-weights template-heavy sources); this operator
    pins the order and receipts every boundary.

    Stages / receipt rows (stage, n_in, n_out, n_removed, detail):

    - ``0_raw``       — corpus size; detail = total chars.
    - ``1_quality``   — the t15 gate cascade; detail = mean quality of
      the kept docs via the integer-micros fold (Σ floor(q·10⁶) is an
      exact integer sum, so partial-aggregation order can never move
      the mean — the a12 discipline; a double AVG would be
      order-dependent and oracle-unstable).
    - ``2_exact_dedup`` — one keeper (min id) per canonical
      fingerprint among quality survivors; detail = largest duplicate
      group seen.
    - ``2a_semantic_dedup`` (only when ``embeddings`` is passed —
      round-14 verdict item 3, the CROSS-MODAL leg): d10's SemDeDup
      manifest (:func:`similarity.embedding_dup_clusters` — banded
      SRP-LSH cosine pairs closed into connected components, keeper =
      min id) computed over the EXACT-DEDUP SURVIVORS' embeddings;
      non-keepers drop.  Survivor docs without an embedding row pass
      through (they can't be semantic dups of anything measured).
      detail = largest semantic cluster among survivors (a MAX —
      order-independent).
    - ``2b_image_neardup`` (only when ``media`` is passed): the m14
      dHash Hamming-band pairs over the survivors' image payloads,
      closed into components with the same min-id keeper rule; docs
      whose media has no near-dup partner pass through.  detail =
      largest image near-dup cluster (MAX, ≥ 1).
      Both stages run BETWEEN exact dedup and the split — the order a
      real multimodal corpus build uses, so dup pairs of ANY modality
      can never straddle the train/test boundary drawn in the next
      stage.
    - ``3_train_split`` — the content-hash 80/10/10 split (md5 of the
      canonical text, so dup pairs can never straddle splits); the
      pipeline ships the TRAIN side; detail = train fraction.
    - ``4_decontam``  — t22's purge over the deduped corpus: train
      docs sharing > ``max_overlap`` of their shingles with the test
      split drop; detail = the WORST train-side overlap seen (a MAX —
      order-independent by construction, unlike a mean of doubles).
    - ``5_mixture``   — t27's water-filled per-source rates applied as
      a DETERMINISTIC hash sample: doc kept iff
      md5₆₀('mx:'‖id)/2⁶⁰ < final_rate(source) — no RNG, re-run- and
      resharding-stable, and the comparison is two IEEE doubles both
      engines compute identically; detail = sampled chars.
    - ``6_packing``   — t29's budget-cut packing of the sampled docs
      into ``max_len``-token examples (a re-grain, not a filter:
      n_removed 0); detail = pooled pack efficiency
      Σ min(used, L) / (n_examples·L).

    Scale shape: every stage is the already-audited operator's plan
    (map-only gates, one fingerprint shuffle, two shingle-keyed
    shuffles, |sources|-row broadcasts, one packing window); the
    inter-stage manifests go through ``materialize`` so the funnel's
    eight scalar aggregates don't recompute the chain (with
    ``SPARK_GRAFT_CKPT_DIR`` set each stage writes its manifest to the
    sink instead — same lineage cut, same receipt).  The receipt itself
    is |stages| rows built from scalar aggregates — the d18 posture,
    never a per-doc collect.  Zero survivors are not an error: counts
    stay 0 and a ratio detail over a zero denominator is NULL.
    """
    from pyspark.sql.window import Window

    spark = docs.sparkSession
    t = F.col(text_col)

    # Stages 0+1 fused into ONE corpus scan (r15 optimization): the
    # quality gate is a map-only projection, so the 0_raw totals and the
    # 1_quality totals are conditional aggregates of the SAME pass —
    # previously r0 and r1 were two separate scans, and stage 2 paid the
    # gate a THIRD and FOURTH time through a docs ⋈ verdict self-join
    # (two more scans plus a shuffle).  The integer-micros mean is
    # unchanged: Σ_keep floor(q·10⁶) is the same exact integer sum
    # whether filtered or folded through when(keep, ·).
    qf = quality_filter(
        docs, text_col=text_col, id_col=id_col, keep_input_cols=True
    )
    r01 = qf.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("n_chars").cast("double").alias("d0"),
        F.count_if(F.col("keep")).alias("n1"),
        F.round(
            F.try_divide(
                F.sum(
                    F.when(
                        F.col("keep"), F.floor(F.col("quality") * 1e6).cast("long")
                    ).otherwise(F.lit(0))
                ),
                F.count_if(F.col("keep")) * F.lit(1e6),
            ),
            6,
        ).alias("d1"),
    ).first()
    r0 = {"n": r01["n0"], "detail": r01["d0"]}
    r1 = {"n": r01["n1"], "detail": r01["d1"]}

    # Stage 2: survivors flow straight from the gate (no self-join) and
    # the min-id/group-size window is executed ONCE.  r16 scale fix
    # (r15 verdict item 1): ONLY THE SURVIVORS are checkpointed — every
    # group's keeper row (min id) survives the filter and carries the
    # group's constant ``_grp_n``, so max(_grp_n) over survivors equals
    # max over the full windowed frame and the receipt needs no
    # pre-filter materialization.  The r15 code checkpointed the
    # PRE-filter frame (n1 rows, every input column including the full
    # text) and died "persisting" at the 10× sweep; this holds n2 rows
    # — the r14 width at the r15 job count (window still runs once).
    s1 = qf.where("keep").drop(
        "n_tokens", "avg_token_len", "quality", "keep", "reject_reason"
    )
    s1 = s1.withColumn("_fp", fingerprint(t))
    grp = Window.partitionBy("_fp")
    w2 = s1.withColumn("_keep", F.min(id_col).over(grp)).withColumn(
        "_grp_n", F.count(F.lit(1)).over(grp)
    )
    s2ck = materialize(
        w2.where(F.col(id_col) == F.col("_keep")).drop("_keep")
    )
    r2 = s2ck.agg(F.max("_grp_n").cast("double").alias("detail")).first()
    s2 = s2ck.drop("_grp_n")
    n2 = s2ck.count()  # free: already materialized

    # the cross-modal legs (round-14 verdict item 3): each consumes the
    # previous stage's survivors, drops non-keeper cluster members, and
    # receipts a MAX-cluster-size detail — order-independent like every
    # other receipt scalar
    cur, n_cur, extra_rows = s2, n2, []
    if embeddings is not None:
        from .similarity import embedding_dup_clusters

        sem = embeddings.join(
            cur.select(F.col(id_col).alias(emb_id_col)), emb_id_col
        )
        man = materialize(embedding_dup_clusters(
            sem, bands=emb_bands, threshold=emb_threshold,
            id_col=emb_id_col,
        ))
        r2a = (
            man.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("_sz"))
            .agg(F.greatest(F.max("_sz"), F.lit(1)).cast("double").alias("detail"))
            .first()
        )
        cur = materialize(cur.join(
            man.where(~F.col("keep")).select(F.col("vec_id").alias(id_col)),
            id_col,
            "left_anti",
        ))
        n_new = cur.count()
        extra_rows.append(
            ("2a_semantic_dedup", n_cur, n_new, n_cur - n_new, r2a["detail"])
        )
        n_cur = n_new
    if media is not None:
        from .multimodal import dhash_pairs
        from .graph_algos import connected_components

        med = media.join(
            cur.select(F.col(id_col).alias(media_id_col)), media_id_col
        )
        pairs = materialize(dhash_pairs(
            med, bands=media_bands, payload_col=media_payload_col,
            id_col=media_id_col,
        ))
        comp = materialize(connected_components(
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        ))
        r2b = comp.groupBy("component").agg(
            F.count(F.lit(1)).alias("_sz")
        ).agg(
            F.greatest(F.coalesce(F.max("_sz"), F.lit(1)), F.lit(1))
            .cast("double").alias("detail")
        ).first()
        cur = materialize(cur.join(
            comp.where(F.col("id") != F.col("component"))
            .select(F.col("id").alias(id_col)),
            id_col,
            "left_anti",
        ))
        n_new = cur.count()
        extra_rows.append(
            ("2b_image_neardup", n_cur, n_new, n_cur - n_new, r2b["detail"])
        )
        n_cur = n_new

    dec = materialize(decontaminated_train(
        cur, max_overlap=max_overlap, text_col=text_col, id_col=id_col
    ))
    # one pass over the checkpointed decontam frame for both receipt
    # rows (r15: was two aggregate jobs over the same materialized rows)
    r34 = dec.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.try_divide(F.count(F.lit(1)), F.lit(n_cur)), 6).alias("d3"),
        F.max("test_overlap_frac").alias("d4"),
    ).first()
    r3 = {"n": r34["n"], "detail": r34["d3"]}
    r4 = {"detail": r34["d4"]}
    s4 = materialize(cur.join(
        dec.where("keep").select(id_col), id_col
    ))
    n4 = s4.count()

    rates = mixture_rates(s4, budget_frac=budget_frac)
    u = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit("mx"), F.col(id_col))), 1, 15),
        16, 10,
    ).cast("long").cast("double")
    s5 = materialize(
        s4.join(F.broadcast(rates.select("source", "final_rate")), "source")
        .where(u < F.col("final_rate") * F.lit(16.0 ** 15))
    )
    r5 = s5.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("double").alias("detail"),
    ).first()

    pack = sequence_packing(s5, max_len=max_len, text_col=text_col, id_col=id_col)
    r6 = pack.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.least(F.col("used_tokens"), F.lit(max_len)))
            / (F.count(F.lit(1)) * F.lit(float(max_len))),
            6,
        ).alias("detail"),
    ).first()

    n0, n1, n3, n5, n6 = r0["n"], r1["n"], r3["n"], r5["n"], r6["n"]
    rows = [
        ("0_raw", n0, n0, 0, r0["detail"]),
        ("1_quality", n0, n1, n0 - n1, r1["detail"]),
        ("2_exact_dedup", n1, n2, n1 - n2, r2["detail"]),
        *extra_rows,
        ("3_train_split", n_cur, n3, n_cur - n3, r3["detail"]),
        ("4_decontam", n3, n4, n3 - n4, r4["detail"]),
        ("5_mixture", n4, n5, n4 - n5, r5["detail"]),
        ("6_packing", n5, n6, 0, r6["detail"]),
    ]
    return spark.createDataFrame(
        rows,
        "stage string, n_in long, n_out long, n_removed long, detail double",
    ).orderBy("stage")
