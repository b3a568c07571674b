"""Text analysis for training-data pipelines — all JVM-side expressions.

Every function here returns Column expressions built from
``pyspark.sql.functions`` only (no Python UDFs): at 100 TB these run inside
whole-stage codegen, vectorized, with zero Python-worker round-trips.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_WS = r"\s+"


def tokenize(col: Column) -> Column:
    """Whitespace tokens; empty/blank text → empty array (F.split yields
    [''] for '' — normalize that away)."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, _WS)
    )


def token_count(col: Column) -> Column:
    return F.size(tokenize(col))


# BPE-ish word/punct segmentation: runs of letters+digits+apostrophe, or a
# single non-space symbol — approximates subword pre-tokenization
_BPE_RE = r"[A-Za-z0-9']+|[^\sA-Za-z0-9']"


def bpe_ish_token_count(col: Column) -> Column:
    """Count of regex token matches (letters/digit runs + punct symbols)."""
    toks = F.regexp_extract_all(col, F.lit(_BPE_RE), 0)
    return F.size(toks)


def quality_metrics(col: Column) -> dict[str, Column]:
    """Integer-valued quality signals (ints hash stably across engines):
    character counts, token counts, distinct-token count, max run of the
    same token (repetition smell)."""
    toks = tokenize(col)
    return {
        "n_chars": F.length(col),
        "n_tokens": F.size(toks),
        "n_distinct_tokens": F.size(F.array_distinct(toks)),
        "n_alpha": F.length(F.regexp_replace(col, r"[^A-Za-z]", "")),
        "n_digit": F.length(F.regexp_replace(col, r"[^0-9]", "")),
        "n_punct": F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", "")),
        "n_space": F.length(col) - F.length(F.regexp_replace(col, r"\s", "")),
    }


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: penalize too-short docs, low
    distinct-token ratio, high punct ratio, low alpha ratio."""
    m = quality_metrics(col)
    n_chars = m["n_chars"].cast("double")
    n_tokens = m["n_tokens"].cast("double")
    length_ok = F.least(n_tokens / F.lit(20.0), F.lit(1.0))
    distinct_ratio = F.when(n_tokens > 0, m["n_distinct_tokens"] / n_tokens).otherwise(0.0)
    alpha_ratio = F.when(n_chars > 0, m["n_alpha"] / n_chars).otherwise(0.0)
    punct_penalty = F.when(n_chars > 0, 1.0 - F.least(m["n_punct"] / n_chars * 4, F.lit(1.0))).otherwise(1.0)
    return (length_ok * 0.3 + distinct_ratio * 0.3 + alpha_ratio * 0.2 + punct_penalty * 0.2).alias(
        "quality_score"
    )


def repetition_metrics(col: Column) -> dict[str, Column]:
    """Gopher/RefinedWeb-style repetition signals, pure JVM expressions:

    - ``n_lines`` / ``n_distinct_lines`` — non-blank, trimmed lines;
    - ``n_paras`` / ``n_distinct_paras`` — blank-line-separated paragraphs;
    - ``dup_line_frac`` / ``dup_para_frac`` — fraction of lines/paragraphs
      that are repeats of an earlier one (0.0 for empty docs).

    Boilerplate-heavy and templated documents (nav bars, repeated
    disclaimers, scraped listings) show high duplicate fractions and get
    filtered before training — the intra-document counterpart of the
    cross-document dedup family in ``operators/dedup.py``."""
    lines = F.filter(
        F.transform(F.split(col, r"\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    paras = F.filter(
        F.transform(F.split(col, r"\n\s*\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    n_lines = F.size(lines)
    n_dl = F.size(F.array_distinct(lines))
    n_paras = F.size(paras)
    n_dp = F.size(F.array_distinct(paras))
    return {
        "n_lines": n_lines,
        "n_distinct_lines": n_dl,
        "n_paras": n_paras,
        "n_distinct_paras": n_dp,
        "dup_line_frac": F.when(
            n_lines > 0, (n_lines - n_dl) / n_lines.cast("double")
        ).otherwise(0.0),
        "dup_para_frac": F.when(
            n_paras > 0, (n_paras - n_dp) / n_paras.cast("double")
        ).otherwise(0.0),
    }


# PII patterns kept to the regex subset Java (Spark) and RE2 (DuckDB/
# oracle) evaluate identically: no backrefs, no lookaround. Order matters —
# URLs are redacted before emails so an address inside a URL query string
# doesn't split the URL match.
_PII_PATTERNS: list[tuple[str, str, str]] = [
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def pii_counts(col: Column) -> dict[str, Column]:
    """Match counts per PII kind (before redaction) — the audit signal."""
    return {
        kind: F.size(F.regexp_extract_all(col, F.lit(pat), 0))
        for kind, pat, _tok in _PII_PATTERNS
    }


def redact_pii(col: Column) -> Column:
    """Replace URLs, emails, and IPv4 addresses with typed tokens
    (``<URL>``/``<EMAIL>``/``<IP>``) — the standard scrub step before
    training. Chained regexp_replace, all JVM-side; patterns are
    RE2-compatible so a DuckDB oracle reproduces the output exactly."""
    out = col
    for _kind, pat, tok in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, tok)
    return out


def document_fingerprint(col: Column) -> Column:
    """Deterministic content fingerprint: md5 of the whitespace-normalized,
    lower-cased text. Identical in any engine with md5 (oracle-checkable)."""
    normalized = F.regexp_replace(F.lower(F.trim(col)), _WS, " ")
    return F.md5(F.encode(normalized, "UTF-8"))


# minimal per-language stopword profiles for the n-gram/stopword heuristic
_LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "with", "as", "on", "at", "this"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "las", "es", "por", "con", "para", "del"],
    "fr": ["le", "la", "les", "de", "des", "et", "est", "en", "un", "une", "du", "que", "pour", "dans", "qui"],
    "de": ["der", "die", "das", "und", "ist", "in", "den", "von", "zu", "mit", "sich", "auf", "für", "ein", "nicht"],
    "it": ["il", "la", "di", "che", "e", "un", "una", "per", "con", "del", "gli", "le", "si", "da", "non"],
    "pt": ["o", "a", "de", "que", "e", "do", "da", "em", "um", "uma", "com", "para", "os", "as", "não"],
}


def language_id(col: Column, default: str = "und") -> Column:
    """Stopword-profile language heuristic (JVM-side, no UDF): score each
    language by how many tokens fall in its stopword set, pick the argmax
    via max-of-structs; ``und`` when nothing matches."""
    toks = F.transform(tokenize(F.lower(col)), lambda t: F.regexp_replace(t, r"[^\p{L}']", ""))
    scored = F.array(
        *[
            F.struct(
                F.size(F.filter(toks, lambda t: t.isin(*words))).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in _LANG_PROFILES.items()
        ]
    )
    best = F.array_max(scored)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit(default))


def normalize_text(col: Column) -> Column:
    """Unicode text normalization for corpus hygiene: NFC → lowercase →
    final-sigma fold (``ς`` → ``σ``) → accent strip (NFD, drop Mn marks).
    The canonical pre-dedup normalizer: visually-identical strings with
    different codepoint sequences (composed vs decomposed accents, case,
    Greek final sigma) collapse to one key. Compatibility folding is
    deliberately OUT of scope: the chain is NFC (canonical), so
    fullwidth forms like ``Ａ`` survive as fullwidth ``ａ`` — NFKC would
    fold them but DuckDB has no ``nfkc_normalize``, and cross-engine
    oracle parity wins over wider folding (pinned by a fullwidth
    preservation case in the parity test).

    Implementation note — why Python appears here: Spark has NO built-in
    UAX#15 normalization expression (`lower`/`translate` cannot express
    NFC/NFD), so this is an Arrow-batched pandas UDF over
    ``unicodedata`` — the sanctioned slow path, one str pass per row,
    no JVM↔Python chatter beyond the Arrow batches. The sigma fold is
    what keeps the chain engine-portable: Python ``str.lower`` applies
    the Unicode Final_Sigma context rule and DuckDB's ``lower`` does
    not; folding both to ``σ`` makes the DuckDB oracle
    (``strip_accents(replace(lower(nfc_normalize(x)), 'ς', 'σ'))``)
    byte-identical. Parity is pinned by a randomized cross-engine test.
    """
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    # note: `from __future__ import annotations` stringifies hints and
    # pyspark resolves them against module globals — so the UDF uses the
    # module-level `pd` import rather than a local one
    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        def f(t):
            if t is None:
                return None
            t = unicodedata.normalize("NFC", t).lower().replace("ς", "σ")
            return "".join(
                c
                for c in unicodedata.normalize("NFD", t)
                if unicodedata.category(c) != "Mn"
            )

        return s.map(f)

    return _norm(col)


def normalize_text_duckdb_sql(expr: str) -> str:
    """The same chain as :func:`normalize_text` in DuckDB SQL — kept
    adjacent so the two stay in lockstep."""
    return f"strip_accents(replace(lower(nfc_normalize({expr})), 'ς', 'σ'))"


# ---- BPE-ish subword tokenizer: train on a bounded sample, apply
# distributed (the same train-small/apply-everywhere recipe as the IVF
# and PQ quantizers) ----


def bpe_train(
    df,
    text_col: str,
    n_merges: int = 100,
    sample_rows: int = 50_000,
    lowercase: bool = True,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` byte-pair merges from a BOUNDED single-scan
    sample of the corpus (head-quota per partition, like
    ``similarity.ivf_centroids``): whitespace pre-tokenize, count word
    frequencies, then the classic greedy loop — merge the most frequent
    adjacent symbol pair (count desc, pair lexicographic as the
    deterministic tie-break). Training is driver-side over the word-
    frequency DICT (O(n_merges × distinct words)), never the corpus;
    ``bpe_tokenize`` applies the merges distributed.
    """
    import math as _math

    from pyspark.sql import functions as FF

    sample = df.select(FF.col(text_col).alias("_t")).where(FF.col("_t").isNotNull())
    n_parts = max(1, sample.sparkSession.sparkContext.defaultParallelism)
    quota = max(256, _math.ceil(2 * sample_rows / n_parts))

    def head_quota(batches):
        taken = 0
        for pdf_ in batches:
            if taken + len(pdf_) >= quota:
                yield pdf_.iloc[: quota - taken]
                break
            taken += len(pdf_)
            yield pdf_

    pdf_s = sample.mapInPandas(head_quota, schema=sample.schema).toPandas()
    texts = pdf_s["_t"].iloc[:sample_rows]
    freqs: dict[tuple, int] = {}
    for t in texts:
        if lowercase:
            t = t.lower()
        for w in t.split():
            key = tuple(w)
            freqs[key] = freqs.get(key, 0) + 1
    return _bpe_learn(freqs, n_merges)


def _bpe_learn(freqs: dict, n_merges: int) -> list[tuple[str, str]]:
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple, int] = {}
        for w, f in freqs.items():
            for a, b in zip(w, w[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + f
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))[0]
        merges.append(best)
        freqs = {_bpe_merge_word(w, best): f for w, f in freqs.items()}
    return merges


def _bpe_merge_word(w: tuple, pair: tuple) -> tuple:
    out = []
    i = 0
    while i < len(w):
        if i + 1 < len(w) and (w[i], w[i + 1]) == pair:
            out.append(w[i] + w[i + 1])
            i += 2
        else:
            out.append(w[i])
            i += 1
    return tuple(out)


def bpe_encode_word(w: str, merges: list[tuple[str, str]]) -> list[str]:
    """Apply the learned merges in training order to one word."""
    sym = tuple(w)
    for pair in merges:
        if len(sym) < 2:
            break
        sym = _bpe_merge_word(sym, pair)
    return list(sym)


def bpe_tokenize(col: Column, merges: list[tuple[str, str]], lowercase: bool = True) -> Column:
    """Distributed BPE application: array<string> of subword tokens.
    Arrow-batched pandas UDF with a per-batch word cache (natural-text
    batches repeat most words, so the merge loop runs once per DISTINCT
    word per batch). The merges list broadcasts with the serialized UDF
    — a few KB."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _tok(s: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def enc(t):
            if t is None:
                return None
            if lowercase:
                t = t.lower()
            out = []
            for w in t.split():
                got = cache.get(w)
                if got is None:
                    got = bpe_encode_word(w, merges)
                    cache[w] = got
                out.extend(got)
            return out

        return s.map(enc)

    return _tok(col)


def train_unigram_lm(
    df,
    text_col: str,
    vocab_size: int = 4096,
    alpha: float = 0.5,
) -> dict:
    """Corpus unigram language model for CCNet-style perplexity
    filtering: token counts via ONE explode+groupBy shuffle (map-side
    partial combine collapses repeated tokens, so the shuffle carries
    distinct tokens per partition, not the corpus), vocabulary = top
    ``vocab_size`` by (count desc, token asc) — a TakeOrdered that
    brings V rows to the driver, nothing more. Additive smoothing:
    p(t) = (c_t + α)/(N + α·(V+1)); all out-of-vocab tokens share the
    α/(N + α·(V+1)) mass.

    Returns ``{"vocab": [(token, logprob)...], "oov_lp": lp,
    "total_tokens": N}`` with logprobs PRE-ROUNDED to 7 decimals — the
    scorer sums them as exact DECIMALs so per-doc scores are
    order-independent and engine-portable (the repo's decimal-sum FP
    parity discipline).

    At 100 TB the CCNet recipe scores a crawl with an LM trained on a
    REFERENCE corpus (e.g. wikipedia) — train there, broadcast the tiny
    LM here; self-training on the scored corpus (this function's demo
    use) is the same plumbing."""
    import math

    toks = df.select(
        F.explode(tokenize(F.lower(F.col(text_col)))).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("c")).persist()
    try:
        total = counts.agg(F.sum("c")).collect()[0][0] or 0
        top = counts.orderBy(F.desc("c"), F.asc("tok")).limit(vocab_size).collect()
    finally:
        counts.unpersist()
    denom = total + alpha * (len(top) + 1)
    vocab = [
        (r.tok, round(math.log((r.c + alpha) / denom), 7)) for r in top
    ]
    oov_lp = round(math.log(alpha / denom), 7)
    return {"vocab": vocab, "oov_lp": oov_lp, "total_tokens": int(total)}


def unigram_nll_docs(
    df,
    text_col: str,
    id_col: str,
    lm: dict,
) -> "DataFrame":
    """Per-document mean negative log-likelihood under a unigram LM —
    the perplexity-filter score (low = fluent/common, high = junk or
    OOV-heavy; filter by threshold or feed `keep_top_fraction`).

    Engine-portable by construction: per-token logprobs are exact
    DECIMAL(20,7) literals (pre-rounded by the trainer), the per-doc
    SUM is decimal (order-independent — a double sum would hash
    differently across engines), and only the final mean divides in
    double and rounds to 6 dp.

    Plan shape: explode → BROADCAST-join the V-row LM (the corpus never
    shuffles for the join) → per-doc partial agg (a doc's exploded
    tokens are co-partitioned, so the groupBy shuffle carries ~one row
    per doc) → left-join back so empty/NULL docs keep a row with NULL
    score and n_tokens 0."""
    spark = df.sparkSession
    lm_df = spark.createDataFrame(
        [(t, str(lp)) for t, lp in lm["vocab"]], "tok string, _lp_s string"
    ).select("tok", F.col("_lp_s").cast("decimal(20,7)").alias("_lp"))
    oov = F.lit(str(lm["oov_lp"])).cast("decimal(20,7)")
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(tokenize(F.lower(F.col(text_col)))).alias("tok"),
    )
    agg = (
        toks.join(F.broadcast(lm_df), "tok", "left")
        .select("_id", F.coalesce(F.col("_lp"), oov).alias("_lp"))
        .groupBy("_id")
        .agg(F.sum("_lp").alias("_s"), F.count("*").alias("_n"))
    )
    return (
        df.select(F.col(id_col))
        .join(agg, F.col(id_col) == F.col("_id"), "left")
        .select(
            F.col(id_col),
            F.round(-(F.col("_s").cast("double")) / F.col("_n"), 6).alias(
                "nll_per_token"
            ),
            F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n_tokens"),
        )
    )


def train_unigram_lm_pair(
    df,
    text_col: str,
    subset_cond: Column,
    vocab_size: int = 4096,
    alpha: float = 0.5,
) -> tuple[dict, dict]:
    """Train TWO unigram LMs in ONE corpus pass: the full ``df`` and
    the slice where ``subset_cond`` holds (NULL condition = excluded,
    matching a ``.where(subset_cond)`` prefilter). The DSIR shape —
    target-slice LM vs raw-corpus LM — tokenized the corpus twice; a
    conditional count in the same explode+groupBy produces both count
    tables from one shuffle (r14, guide §2.3/§2.4). Outputs are
    BIT-IDENTICAL to two :func:`train_unigram_lm` calls: same counts
    (integer sums), same (count desc, token asc) vocabulary cut, same
    7-dp rounded logprobs. Returns ``(full_lm, subset_lm)``."""
    import math

    toks = df.select(
        subset_cond.alias("_in"),
        F.explode(tokenize(F.lower(F.col(text_col)))).alias("tok"),
    )
    counts = (
        toks.groupBy("tok")
        .agg(
            F.count("*").alias("_c_all"),
            F.sum(F.when(F.col("_in"), 1).otherwise(0)).alias("_c_sub"),
        )
        .persist()
    )
    try:
        tot = counts.agg(F.sum("_c_all"), F.sum("_c_sub")).collect()[0]
        total_all, total_sub = int(tot[0] or 0), int(tot[1] or 0)
        top_all = (
            counts.orderBy(F.desc("_c_all"), F.asc("tok"))
            .limit(vocab_size)
            .collect()
        )
        # a token absent from the subset must not enter the subset
        # vocabulary (two-call parity: its counts frame never saw it)
        top_sub = (
            counts.where(F.col("_c_sub") > 0)
            .orderBy(F.desc("_c_sub"), F.asc("tok"))
            .limit(vocab_size)
            .collect()
        )
    finally:
        counts.unpersist()

    def _lm(top, key, total):
        denom = total + alpha * (len(top) + 1)
        return {
            "vocab": [
                (r["tok"], round(math.log((r[key] + alpha) / denom), 7))
                for r in top
            ],
            "oov_lp": round(math.log(alpha / denom), 7),
            "total_tokens": total,
        }

    return _lm(top_all, "_c_all", total_all), _lm(top_sub, "_c_sub", total_sub)


def train_bigram_lm(
    df,
    text_col: str,
    vocab_size: int = 4096,
    bigram_size: int = 8192,
    alpha: float = 0.5,
    backoff: float = 0.4,
) -> dict:
    """Bigram language model with stupid backoff — one rung up the
    CCNet ladder from :func:`train_unigram_lm` (real deployments use
    5-gram KenLM; the bigram captures local word ORDER, which a unigram
    cannot, while staying one-shuffle trainable and SQL-mirrorable).

    Scoring rule (Brants et al. "stupid backoff" — scores, not true
    probabilities, which is exactly what a filter threshold needs):

    - known bigram:   lp(w2|w1) = ln(c12 / c1)
    - unknown bigram: lp(w2|w1) = ln(backoff) + lp_unigram(w2)

    where lp_unigram is the smoothed unigram LM (α-additive, OOV mass),
    trained on the SAME corpus in the same pass structure. Training:
    ONE explode of in-doc adjacent pairs + groupBy(w1, w2) with
    map-side combine (shuffle rows = distinct bigrams per partition),
    the bigram table bounded to ``bigram_size`` by a TakeOrdered, w1
    counts folded from the unigram counts. All logprobs pre-rounded to
    7 dp; the scorer sums them as exact DECIMALs (the FP-parity
    discipline of :func:`unigram_nll_docs`).

    Returns ``{"unigram": <unigram model>, "bigrams": [(w1, w2, lp)],
    "backoff_lp": ln(backoff), "c1": {w1: count}}``."""
    import math

    uni = train_unigram_lm(df, text_col, vocab_size=vocab_size, alpha=alpha)
    toks = df.select(
        tokenize(F.lower(F.col(text_col))).alias("_t")
    ).where(F.size("_t") >= 2)
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_t") - 2),
                lambda i: F.struct(
                    F.col("_t")[i].alias("w1"), F.col("_t")[i + 1].alias("w2")
                ),
            )
        ).alias("_p")
    ).select("_p.w1", "_p.w2")
    big_counts = (
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")).persist()
    )
    try:
        top_big = (
            big_counts.orderBy(F.desc("c12"), F.asc("w1"), F.asc("w2"))
            .limit(bigram_size)
            .collect()
        )
        # w1 continuation totals: how many bigrams START with w1 (the
        # denominator of c12/c1). Identity: count of pairs starting with
        # w1 = Σ_w2 c12(w1, w2), so fold from the persisted distinct-
        # bigram frame — the old pairs.groupBy(w1) re-ran the tokenize
        # and pair explode over the whole corpus for the same integers
        # (r14, guide §2.4; exact: integer sum of counts)
        w1_set = {r.w1 for r in top_big}
        c1_rows = (
            big_counts.groupBy("w1")
            .agg(F.sum("c12").alias("c1"))
            .where(F.col("w1").isin(list(w1_set)) if w1_set else F.lit(False))
            .collect()
        )
        c1 = {r.w1: int(r.c1) for r in c1_rows}
    finally:
        big_counts.unpersist()
    bigrams = [
        (r.w1, r.w2, round(math.log(r.c12 / c1[r.w1]), 7)) for r in top_big
    ]
    return {
        "unigram": uni,
        "bigrams": bigrams,
        "backoff_lp": round(math.log(backoff), 7),
        "n_bigrams": len(bigrams),
    }


def bigram_nll_docs(
    df,
    text_col: str,
    id_col: str,
    lm: dict,
) -> "DataFrame":
    """Per-document mean negative log-score under the bigram LM (stupid
    backoff to the embedded unigram). Engine-portable: per-transition
    logprobs are 7-dp DECIMAL literals summed exactly; only the final
    mean divides in double (6-dp round).

    Plan shape: ONE explode of adjacent pairs → broadcast join of the
    B-row bigram table → broadcast join of the V-row unigram table for
    the backoff arm → per-doc partial agg → left-join back (docs with
    <2 tokens keep a row with NULL score)."""
    spark = df.sparkSession
    uni = lm["unigram"]
    big_df = spark.createDataFrame(
        [(w1, w2, str(lp)) for w1, w2, lp in lm["bigrams"]],
        "w1 string, w2 string, _blp_s string",
    ).select("w1", "w2", F.col("_blp_s").cast("decimal(20,7)").alias("_blp"))
    uni_df = spark.createDataFrame(
        [(t, str(lp)) for t, lp in uni["vocab"]], "w2 string, _ulp_s string"
    ).select("w2", F.col("_ulp_s").cast("decimal(20,7)").alias("_ulp"))
    oov = F.lit(str(uni["oov_lp"])).cast("decimal(20,7)")
    back = F.lit(str(lm["backoff_lp"])).cast("decimal(20,7)")
    toks = df.select(
        F.col(id_col).alias("_id"), tokenize(F.lower(F.col(text_col))).alias("_t")
    ).where(F.size("_t") >= 2)
    pairs = toks.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_t") - 2),
                lambda i: F.struct(
                    F.col("_t")[i].alias("w1"), F.col("_t")[i + 1].alias("w2")
                ),
            )
        ).alias("_p"),
    ).select("_id", "_p.w1", "_p.w2")
    scored = (
        pairs.join(F.broadcast(big_df), ["w1", "w2"], "left")
        .join(F.broadcast(uni_df), "w2", "left")
        .select(
            "_id",
            F.coalesce(
                F.col("_blp"), back + F.coalesce(F.col("_ulp"), oov)
            ).alias("_lp"),
        )
    )
    agg = scored.groupBy("_id").agg(
        F.sum("_lp").alias("_s"), F.count(F.lit(1)).alias("_n")
    )
    return (
        df.select(F.col(id_col))
        .join(agg, F.col(id_col) == F.col("_id"), "left")
        .select(
            F.col(id_col),
            F.round(-(F.col("_s").cast("double")) / F.col("_n"), 6).alias(
                "nll_per_transition"
            ),
            F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias(
                "n_transitions"
            ),
        )
    )


_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    col: Column,
    min_words: int = 50,
    max_words: int = 100_000,
) -> dict[str, Column]:
    """The Gopher quality-filter rule set (Rae et al. 2021, App. A —
    the published heuristic bundle RefinedWeb/Dolma reuse), as pure JVM
    boolean expressions. Every ratio test is INTEGER cross-multiplied
    (``3·n ≤ Σlen ≤ 10·n`` instead of ``3 ≤ Σlen/n ≤ 10``) so there is
    no float boundary to disagree across engines — the booleans are
    exactly oracle-portable.

    Rules (key → pass condition):

    - ``rule_word_count``    — ``min_words ≤ words ≤ max_words``;
    - ``rule_mean_word_len`` — mean word length in [3, 10];
    - ``rule_alpha_words``   — ≥ 80% of words contain a letter;
    - ``rule_stop_words``    — ≥ 2 distinct stop words present;
    - ``rule_symbol_ratio``  — (# + …) symbols ≤ 10% of words;
    - ``rule_bullet_lines``  — ≤ 10% of lines start with a bullet;
    - ``rule_ellipsis_lines``— ≤ 30% of lines end with an ellipsis;
    - ``rule_dup_lines``     — duplicate-line fraction ≤ 30%;
    - ``rule_dup_paras``     — duplicate-paragraph fraction ≤ 30%;
    - ``gopher_keep``        — AND of all of the above.

    Empty/NULL docs fail ``rule_word_count`` and are dropped. Lines and
    paragraphs are the trimmed non-blank splits ``repetition_metrics``
    uses; a line-less doc (no ``\\n``) is its single own line, so the
    line-shape rules pass vacuously-correctly on one-line docs.
    """
    toks = tokenize(col)
    n_words = F.coalesce(F.size(toks), F.lit(0))
    sum_word_len = F.coalesce(
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)),
            F.lit(0),
            lambda acc, v: acc + v,
        ),
        F.lit(0),
    )
    n_alpha_words = F.coalesce(
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))), F.lit(0)
    )
    n_stops = F.coalesce(
        F.size(
            F.array_intersect(
                F.array_distinct(F.transform(toks, lambda t: F.lower(t))),
                F.array(*[F.lit(s) for s in _GOPHER_STOPS]),
            )
        ),
        F.lit(0),
    )
    hashes = F.length(col) - F.length(F.replace(col, F.lit("#"), F.lit("")))
    ellipses = (
        F.length(col) - F.length(F.replace(col, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    n_symbols = F.coalesce((hashes + ellipses).cast("bigint"), F.lit(0))
    lines = F.filter(
        F.transform(F.split(col, r"\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    paras = F.filter(
        F.transform(F.split(col, r"\n\s*\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    n_lines = F.coalesce(F.size(lines), F.lit(0))
    n_dl = F.coalesce(F.size(F.array_distinct(lines)), F.lit(0))
    n_paras = F.coalesce(F.size(paras), F.lit(0))
    n_dp = F.coalesce(F.size(F.array_distinct(paras)), F.lit(0))
    n_bullet = F.coalesce(
        F.size(
            F.filter(
                lines,
                lambda x: x.startswith("-")
                | x.startswith("*")
                | x.startswith("•"),
            )
        ),
        F.lit(0),
    )
    n_ell_lines = F.coalesce(
        F.size(F.filter(lines, lambda x: x.endswith("...") | x.endswith("…"))),
        F.lit(0),
    )
    rules = {
        "rule_word_count": (n_words >= min_words) & (n_words <= max_words),
        "rule_mean_word_len": (F.lit(3) * n_words <= sum_word_len)
        & (sum_word_len <= F.lit(10) * n_words)
        & (n_words > 0),
        "rule_alpha_words": F.lit(5) * n_alpha_words >= F.lit(4) * n_words,
        "rule_stop_words": n_stops >= 2,
        "rule_symbol_ratio": F.lit(10) * n_symbols <= n_words,
        "rule_bullet_lines": F.lit(10) * n_bullet <= n_lines,
        "rule_ellipsis_lines": F.lit(10) * n_ell_lines <= F.lit(3) * n_lines,
        "rule_dup_lines": F.lit(10) * (n_lines - n_dl) <= F.lit(3) * n_lines,
        "rule_dup_paras": F.lit(10) * (n_paras - n_dp) <= F.lit(3) * n_paras,
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else (keep & c)
    out = dict(rules)
    out["gopher_keep"] = keep
    return out


_C4_POLICY = ["lorem ipsum", "terms of use", "privacy policy", "cookie policy", "javascript"]


def c4_rules(col: Column, min_words: int = 5, min_sentence_lines: int = 0) -> dict[str, Column]:
    """The C4 cleaning rule set (Raffel et al. 2020 §2.2 — the other
    canonical published web filter, complementing :func:`gopher_rules`).
    Scan-local JVM booleans; integer comparisons only, so exactly
    oracle-portable. Document-level verdict (`c4_keep`) — C4's
    line-level retention is the ``strip_boilerplate`` /
    ``dedup_lines_keep_first`` family in this repo; here we gate whole
    docs the way C4's doc-level rules do.

    - ``rule_min_words``      — ≥ ``min_words`` words;
    - ``rule_no_policy``      — none of the policy phrases
      (lorem ipsum / terms of use / privacy policy / cookie policy /
      javascript), case-insensitive;
    - ``rule_no_braces``      — no ``{`` (C4 drops code-ish pages);
    - ``rule_terminal_lines`` — ≥ ``min_sentence_lines`` lines ending
      in terminal punctuation (. ! ? ") — C4 keeps only such lines;
      the default 0 records the count rule without gating, since the
      threshold is corpus-dependent;
    - ``c4_keep``             — AND of the above.
    """
    toks = tokenize(col)
    n_words = F.coalesce(F.size(toks), F.lit(0))
    low = F.lower(col)
    no_policy = None
    for p in _C4_POLICY:
        c = ~F.coalesce(low.contains(p), F.lit(False))
        no_policy = c if no_policy is None else (no_policy & c)
    lines = F.filter(
        F.transform(F.split(col, r"\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    n_terminal = F.coalesce(
        F.size(
            F.filter(
                lines,
                lambda x: x.endswith(".")
                | x.endswith("!")
                | x.endswith("?")
                | x.endswith('"'),
            )
        ),
        F.lit(0),
    )
    rules = {
        "rule_min_words": n_words >= min_words,
        "rule_no_policy": no_policy,
        "rule_no_braces": ~F.coalesce(col.contains("{"), F.lit(False)),
        "rule_terminal_lines": n_terminal >= min_sentence_lines,
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else (keep & c)
    out = dict(rules)
    out["n_terminal_lines"] = n_terminal.cast("bigint")
    out["c4_keep"] = keep
    return out


def compressed_size(col: Column, level: int = 6) -> Column:
    """zlib-compressed byte size of the UTF-8 text — the raw integer
    behind the compressibility quality signal (ints hash stably).

    Python justification (the repo's UDF discipline): DEFLATE is a C
    codec with no Catalyst expression equivalent; this is an
    Arrow-batched ``pandas_udf`` (one Python call per batch, zlib in C
    per doc), not row-at-a-time. zlib output for a fixed level is
    deterministic, so the signal is reproducible across runs and
    engines that share zlib."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not 1 <= level <= 9:
        raise ValueError("zlib level must be in [1, 9]")

    @pandas_udf("long")
    def _csize(s: pd.Series) -> pd.Series:
        import zlib

        return s.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), level))
            if t is not None
            else None
        ).astype("Int64")

    return _csize(col)


def compression_ratio(col: Column, level: int = 6) -> Column:
    """Compressibility quality signal: ``compressed_bytes /
    raw_utf8_bytes`` (empty text → 1.0; NULL → NULL).

    Near-duplicate boilerplate, repeated n-grams, and template spam
    compress far better than natural prose — the Gopher-lineage
    pipelines use exactly this as a cheap repetition screen: very LOW
    ratios flag machine-generated repetition, very HIGH ratios flag
    high-entropy garbage (base64 blobs, minified code, binary
    spill). Gate on both tails; natural text sits in a band
    (empirically ~0.3-0.7 at a few KB)."""
    raw = F.length(F.encode(col, "UTF-8")).cast("double")
    return (
        F.when(col.isNull(), F.lit(None).cast("double"))
        .when(raw == 0, F.lit(1.0))
        .otherwise(compressed_size(col, level).cast("double") / raw)
    )
