"""Text operators over the documents corpus: line dedup, sequence
packing, PII redaction, unigram/bigram LM scoring, mixture sampling, BPE
pair counts and encoding, and text normalization.

Built in the same rule-pipeline style as the reference's diagnostics
(lsp_tool.py:122-278): pure built-in string expressions, no Python in the
row path.

Every numeric derived from float math is rounded in-query (oracle parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import whitespace_tokens, word_count
from ..sources.tables import load_table


def line_dedup_corpus(
    spark: SparkSession, sf_dir: str, min_docs: int = 100
) -> DataFrame:
    """C4/CCNet-style cross-document line deduplication: drop every line
    that occurs in >= ``min_docs`` distinct documents (boilerplate
    headers, nav bars, license blurbs), keep everything else in order.

    Runs over the derived corpus (its injected 'import os' headers are
    exactly the boilerplate class this removes). Plan shape at scale:

    - ONE global aggregation keyed on the line to get its document
      frequency — map-side partial agg; at 100 TB group on a 64-bit line
      hash instead of the line text to shrink shuffle width (the
      text-keyed form here keeps the oracle exact);
    - the boilerplate set (lines above the threshold) is SMALL by
      construction — it re-enters as a broadcast hash join, so the
      corpus-side pass stays narrow;
    - per-document reassembly groups on path (balanced keys), emitting
      kept/removed counts and an md5 of the cleaned text so the driver
      hash-checks the exact surviving content.
    """
    from ..sources.corpus import derived_corpus

    c = derived_corpus(spark, sf_dir)
    lines = c.select(
        "path",
        F.posexplode(F.split(F.col("content"), "\n")).alias("pos", "line"),
    )
    boiler = (
        lines.groupBy("line")
        .agg(F.count_distinct("path").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("line", F.lit(True).alias("is_boiler"))
    )
    flagged = lines.join(F.broadcast(boiler), "line", "left_outer").select(
        "path",
        "pos",
        "line",
        F.coalesce(F.col("is_boiler"), F.lit(False)).alias("is_boiler"),
    )
    kept_struct = F.when(
        ~F.col("is_boiler"), F.struct("pos", "line")
    )  # collect_list skips nulls -> only kept lines aggregate
    cleaned = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(kept_struct)), lambda s: s["line"]
        ),
        "\n",
    )
    return (
        flagged.groupBy("path")
        .agg(
            F.sum((~F.col("is_boiler")).cast("bigint")).alias("n_kept"),
            F.sum(F.col("is_boiler").cast("bigint")).alias("n_removed"),
            F.md5(cleaned).alias("clean_hash"),
        )
    )


def pack_sequences(
    spark: SparkSession, sf_dir: str, budget: int = 512
) -> DataFrame:
    """Greedy sequential packing of documents into fixed-token-budget
    training sequences (the batch-construction step of an LLM data
    pipeline).

    Spec (deterministic, no document splitting): within each source
    shard, documents are taken in doc_id order; a document belongs to
    sequence ``floor(tokens_before_it / budget)`` — a sequence overflows
    its budget by at most one document rather than splitting it.

    Scale shape: packing is windowed PER SOURCE SHARD
    (``partitionBy(source)``) — embarrassingly parallel across shards,
    never a global single-partition sort; the running sum is integer
    arithmetic (exact cross-engine). Output is the per-sequence manifest
    (doc span + exact token total) a trainer's data loader consumes.
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", word_count(F.col("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    seq_id = F.floor((cum - F.col("n_tokens")) / budget).cast("int")
    return (
        d.withColumn("seq_id", seq_id)
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# Conservative cross-engine patterns (Java regex AND RE2 compatible: no
# lookaround, no backreferences).
PII_EMAIL = r"[A-Za-z0-9_.]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+\d{1,2}-\d{3}-\d{4}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (email / phone / IPv4) — the compliance pass every
    training corpus needs before the tokenizer sees it.

    The synthetic documents carry no PII, so a deterministic injection
    derives a contaminated twin (same construction idea as the derived
    corpora: the oracle reproduces the injection arithmetically), then
    the scrubber counts and redacts with pure regexp expressions — one
    narrow codegen'd projection, no shuffle, no UDF; at 100 TB this is a
    free rider on whatever scan already reads the text column.
    """
    d = load_table(spark, sf_dir, "documents")
    contaminated = F.concat(
        F.col("text"),
        F.lit(" contact_"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" call +1-555-0100")).otherwise(
            F.lit("")
        ),
        F.when(
            F.col("doc_id") % 7 == 0, F.lit(" host 192.168.1.42")
        ).otherwise(F.lit("")),
    )
    t = d.select("doc_id", contaminated.alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ),
        PII_IPV4,
        "<IP>",
    )
    return t.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(PII_PHONE)).cast("int").alias("n_phones"),
        F.regexp_count(F.col("t"), F.lit(PII_IPV4)).cast("int").alias("n_ips"),
        F.md5(redacted).alias("redacted_hash"),
    )


def lm_perplexity_score(
    spark: SparkSession, sf_dir: str, vocab_size: int = 16
) -> DataFrame:
    """CCNet-style language-model quality scoring: train a unigram model
    on the corpus itself, score each document by mean negative log
    probability (low = fluent/common, high = gibberish/rare) — the
    filter real pipelines run with a KenLM model; here the model IS the
    corpus unigram distribution, so the whole thing stays in one engine.

    Scale shape:
    - token counting is ONE explode + map-side-combined groupBy (the
      corpus-sized shuffle this op inherently needs);
    - the vocabulary is cut to the top ``vocab_size`` tokens by count
      (count desc, token asc — a deterministic TakeOrderedAndProject,
      never a global sort); everything else scores at the unseen-token
      floor 1/total, so model size is CAPPED regardless of corpus size
      (at 100 TB use 2^16-2^20; the test default 16 exercises the OOV
      path on the tiny synthetic vocabulary);
    - the capped model re-enters as a BROADCAST join onto the exploded
      tokens; per-doc reduction shuffles once on doc_id.
    Per-token log-probs carry as floor-scaled integer micro-nats (see the
    inline note below: floor of identical doubles has no rounding-tie
    concept, unlike 6-dp round-then-average which lands exactly on .xxxx5
    ties); only the final per-doc score is rendered as a 4-dp decimal.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("term")
    )
    counts = words.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total_tokens"))
    # Log-probs carry as FLOOR-SCALED INTEGER micro-nats, never rounded
    # floats: an avg of 6-dp decimals over n tokens lands EXACTLY on
    # .xxxx5 rounding ties whenever n divides a power of 10 (n=40 ->
    # x.xxxx5, found by the sf0.1 sweep), and Spark (exact BigDecimal
    # HALF_UP) vs DuckDB (float-path) round() disagree on exact ties.
    # floor() of identical doubles has no tie concept, and integer
    # sums/divisions are exact on any engine.
    vocab = (
        counts.crossJoin(F.broadcast(total))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(vocab_size)
        .select(
            "term",
            F.floor(F.log(F.col("cnt") / F.col("total_tokens")) * 1e6)
            .cast("bigint")
            .alias("logp_micro"),
        )
    )
    oov = F.floor(F.log(F.lit(1.0) / F.col("total_tokens")) * 1e6).cast(
        "bigint"
    )
    return (
        words.join(F.broadcast(vocab), "term", "left_outer")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (-F.sum(F.coalesce(F.col("logp_micro"), oov))).alias("_nll_sum"),
            F.sum(F.col("logp_micro").isNull().cast("bigint")).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr("_nll_sum div n_tokens").alias("nll_micro"),
            "n_oov",
        )
    )


def lm_bigram_score(
    spark: SparkSession, sf_dir: str, model_size: int = 64, v_smooth: int = 64
) -> DataFrame:
    """Bigram-LM quality scoring — the second-order refinement of
    ``lm_perplexity_score``: train bigram counts on the corpus itself,
    score each document by mean negative conditional log probability
    ``-avg ln P(w_i | w_{i-1})`` with add-1/2 smoothing. Word-order
    scrambles that unigram perplexity cannot see (same words, broken
    transitions) surface here — the CCNet/KenLM filtering signal one
    order up.

    Model boundedness (the 100 TB contract, same as the unigram key):
    - the BIGRAM MODEL is cut to the top ``model_size`` bigrams by count
      (count desc, w1 asc, w2 asc — TakeOrderedAndProject, never a
      global sort), so model size is CAPPED regardless of corpus size;
    - CONTEXT totals derive from the capped model itself
      (``c1 = sum of kept c12 per w1``), guaranteeing ``c12 <= c1`` so
      no smoothed probability exceeds 1 — and keeping the context table
      a subset of the model's first words (bounded too);
    - both tables re-enter as BROADCAST joins onto the exploded bigram
      stream; an unseen bigram scores ``ln(0.5 / (c1 + 0.5*V))`` with
      ``c1 = 0`` when the context is unseen too — the smoothing floor.

    Scale shape: bigrams come from ONE zip of the token array with its
    own 1-shift (arrays_zip over two slices — no self-join, no window)
    and explode once; counting is one map-side-combined groupBy (the
    corpus-sized shuffle the model inherently needs); per-doc reduction
    shuffles once on doc_id. Per-bigram log-probs carry as FLOOR-scaled
    integer micro-nats (the lm_perplexity_score tie discipline: floor of
    identical doubles has no rounding-tie concept; integer sums and
    ``div`` are exact on any engine). Docs with < 2 tokens have no
    transitions and are excluded (n_bigrams would be 0).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = whitespace_tokens(F.col("text"))
    n = F.size(toks)
    zipped = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"),
        F.slice(toks, 2, n - 1).alias("w2"),
    )
    big = (
        d.select("doc_id", zipped.alias("bg"))
        .filter(F.size("bg") >= 1)
        .select("doc_id", F.explode("bg").alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    counts = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    model = (
        counts.orderBy(F.desc("c12"), F.asc("w1"), F.asc("w2"))
        .limit(model_size)
    )
    contexts = model.groupBy("w1").agg(F.sum("c12").alias("c1"))
    # ln((c12 + 0.5) / (c1 + 0.5*V)) floor-scaled to integer micro-nats;
    # every fractional literal stays double-typed on both engines.
    logp = F.floor(
        F.log(
            (F.coalesce(F.col("c12"), F.lit(0)).cast("double") + 0.5)
            / (F.coalesce(F.col("c1"), F.lit(0)).cast("double")
               + 0.5 * v_smooth)
        )
        * 1e6
    ).cast("bigint")
    return (
        big.join(F.broadcast(model), ["w1", "w2"], "left_outer")
        .join(F.broadcast(contexts), ["w1"], "left_outer")
        .select("doc_id", logp.alias("lp"), F.col("c12").isNull().alias("oov"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.sum("lp")).alias("_nll_sum"),
            F.sum(F.col("oov").cast("bigint")).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("_nll_sum div n_bigrams").alias("nll2_micro"),
            "n_oov",
        )
    )


def mixture_sample(
    spark: SparkSession, sf_dir: str, token_budget: int = 5000
) -> DataFrame:
    """Domain-mixture sampling: fill a global token budget with
    per-source quotas proportional to mixture weights — the Pile/Dolma
    recipe step that turns a raw corpus into a training mixture.

    Weights here derive from the source id (id % 3 + 1) so the check is
    self-contained; a real recipe passes a weight table (it would enter
    the same broadcast path). Selection within a source is greedy by
    md5(doc_id) order — a content-independent deterministic shuffle that
    is stable under repartitioning and appends — overflowing the quota
    by at most one document.

    Scale shape: the quota table is #sources rows (broadcast); the
    cumulative-token window partitions BY SOURCE (parallel across
    shards, same bound as pack_sequences); one narrow scan, one
    window shuffle, one map-side-combined rollup.
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", word_count(F.col("text")).alias("n_tokens")
    )
    src_w = d.select("source").distinct().withColumn(
        "w", F.substring("source", 4, 10).cast("int") % 3 + 1
    )
    tot = src_w.agg(F.sum("w").alias("tw"))
    budgets = src_w.crossJoin(F.broadcast(tot)).select(
        "source",
        F.floor(F.lit(token_budget) * F.col("w") / F.col("tw"))
        .cast("bigint")
        .alias("budget_tokens"),
    )
    wnd = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = F.sum("n_tokens").over(wnd) - F.col("n_tokens")
    return (
        d.withColumn("prev_tokens", prev)
        .join(F.broadcast(budgets), "source")
        .filter(F.col("prev_tokens") < F.col("budget_tokens"))
        .groupBy("source", "budget_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_sel"),
            F.sum("n_tokens").alias("tok_sel"),
        )
        .select("source", "n_sel", "tok_sel", "budget_tokens")
    )


def bpe_pair_counts(
    spark: SparkSession, sf_dir: str, top_n: int = 50
) -> DataFrame:
    """One round of BPE vocabulary induction: frequency-weighted adjacent
    character-pair counts over the corpus — the inner loop of training
    the tokenizer a data pipeline feeds (Sennrich et al. 2016). The full
    trainer repeats this with merges applied; each round is this exact
    aggregation shape.

    Scale shape: the corpus-sized work is ONE token count (map-side
    combined); pair expansion then runs over the DISTINCT vocabulary —
    orders of magnitude smaller than the corpus — via an array HOF
    (``transform(sequence)``, codegen'd, no UDF), and the final pair
    rollup + top-N is a TakeOrderedAndProject over pair-cardinality
    (bounded by byte-pair space, ~bytes² at most).

    Words shorter than 2 chars are filtered BEFORE the sequence expr:
    Spark's ``sequence(1, 0)`` generates a DESCENDING sequence rather
    than an empty one, which would fabricate a reversed pair.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(whitespace_tokens(F.col("text"))).alias("w")
    )
    wf = (
        words.filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    pairs = wf.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "f",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(top_n)
    )


def tokenize_bpe_encode(
    spark: SparkSession, sf_dir: str, n_merges: int = 8
) -> DataFrame:
    """BPE ENCODING — the tokenizer-side complement of the
    ``bpe_pair_counts`` trainer: take the top ``n_merges`` character
    pairs (count desc, pair asc — the trainer's own ranking), then apply
    them IN RANK ORDER to every document: each word becomes its
    space-joined character sequence and merge ``ab`` replaces every
    non-overlapping left-to-right occurrence of ``"a b"`` with ``"ab"``.
    This greedy sequential scheme is a documented deterministic variant
    of reference BPE (which re-ranks pairs between merges); the merge
    LIST is what a production tokenizer ships, and applying it is the
    per-document encode pass a 100 TB pipeline runs before packing.
    Second documented deviation (ADVICE r6): the chained ``replace`` is
    NOT symbol-boundary aware — after a merge creates a multi-char
    symbol (say ``th``), a later pair ``(h, e)`` matches the ``"h e"``
    spanning that symbol's end (``"th e"`` -> ``"the"``), a merge
    real rank-ordered BPE apply would not make. Both engines and the
    test twin share the behavior, so parity holds; a boundary-aware
    encode would tokenize on spaces and merge adjacent symbol pairs
    instead of string-replacing.

    Scale shape: the merge table is tiny and rides into the plan as
    ``n_merges`` chained literal ``replace`` expressions — pure codegen'd
    string ops, ZERO shuffles, no UDF, a free rider on the text scan
    (the trainer's one aggregation is amortized across the corpus via
    its own key). Words never contain spaces (they are space-split), so
    word boundaries (joined with newline) are unmergeable by
    construction.

    Output: (doc_id, n_words, n_symbols, encoded_hash) — symbol count =
    remaining intra-word separators + words (pure integer arithmetic,
    immune to cross-engine split-semantics edge cases), and the md5 of
    the full encoded text so the driver hash-checks the exact encoding.
    """
    merges = [
        r["pair"]
        for r in bpe_pair_counts(spark, sf_dir, top_n=n_merges).collect()
    ]
    d = load_table(spark, sf_dir, "documents")
    words = whitespace_tokens(F.col("text"))
    enc = F.array_join(
        F.transform(
            words, lambda w: F.rtrim(F.regexp_replace(w, "(.)", "$1 "))
        ),
        "\n",
    )
    for p in merges:
        enc = F.replace(enc, F.lit(p[0] + " " + p[1]), F.lit(p))
    n_words = F.size(words)
    n_spaces = F.length(enc) - F.length(F.replace(enc, F.lit(" "), F.lit("")))
    return d.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        (n_spaces + n_words).cast("int").alias("n_symbols"),
        F.md5(enc).alias("encoded_hash"),
    )


def normalize_text_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization — the pass every dedup/tokenize
    stage assumes has already happened (CCNet/Gopher preprocessing):
    lowercase, strip non-alphanumerics to spaces, collapse runs of
    whitespace, trim. Emits before/after token counts so the curation
    report can quantify how much punctuation/casing noise each doc
    carried.

    Pure Catalyst (three regexp/string expressions inside whole-stage
    codegen, no shuffle at all) — the plan is a single narrow map over
    the corpus scan, which is exactly what a 100 TB normalization pass
    must be. Idempotence (normalize(normalize(x)) == normalize(x)) is
    pinned by a unit test; both engines share the regex semantics
    (character class + greedy +, no engine-specific syntax).
    """
    d = load_table(spark, sf_dir, "documents")
    lowered = F.lower(F.col("text"))
    stripped = F.regexp_replace(lowered, "[^a-z0-9 ]", " ")
    collapsed = F.trim(F.regexp_replace(stripped, "  +", " "))
    return d.select(
        "doc_id",
        collapsed.alias("norm_text"),
        F.size(whitespace_tokens(F.col("text"))).alias("n_tokens_raw"),
        F.size(whitespace_tokens(collapsed)).alias("n_tokens_norm"),
    )
