"""BPE tokenizer training: the iterative merge loop, Spark-first.

The production shape (HF tokenizers, SentencePiece BPE mode, the original
Sennrich et al. algorithm — all public): the corpus collapses ONCE to a
(word, frequency) table, and every training iteration runs over that
vocabulary-sized relation, never the corpus:

  1. count adjacent symbol pairs across the vocab, weighted by word freq;
  2. pick the most frequent pair (deterministic lexicographic tiebreak);
  3. fuse that pair everywhere (left-to-right, the canonical greedy order);
  4. repeat k times; the picked pairs ARE the tokenizer's merge table.

Scale design (100 TB):
- The corpus-sized work is exactly one tokenize+hash-agg pass (map-side
  partials; output is |vocab|, thousands-to-millions of rows, not corpus).
- Each iteration is one hash aggregate over the vocab + a 1-row argmax
  collect + one per-row array fold — per-iteration driver state is the
  single winning pair.
- The vocab relation is localCheckpointed per iteration to keep lineage
  flat (k chained transforms would otherwise re-derive every prior round;
  at production scale write the vocab to parquet between rounds instead —
  it is tokenizer-training state worth persisting anyway).

An iterative algorithm is the documented oracle exception (driver gate
records rows-only for such ops); correctness is pinned by
tests/test_bpe.py against a plain-Python reference implementation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from peerdb_spark.functions.text import tokens


def word_freq(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (word, freq): the ONLY corpus-sized pass of BPE training."""
    return (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_symbols(word: Column) -> Column:
    """Word → character symbol sequence (split('') walks the string once)."""
    return F.split(word, "")


def _adjacent_pairs(sym: Column) -> Column:
    """array<struct<a,b>> of adjacent symbol pairs (empty for 1-symbol)."""
    return F.zip_with(
        F.slice(sym, 1, F.greatest(F.size(sym) - 1, F.lit(0))),
        F.slice(sym, 2, F.greatest(F.size(sym) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )


def _apply_merge(sym: Column, a: str, b: str) -> Column:
    """Fuse every left-to-right non-overlapping (a, b) occurrence: the
    canonical greedy BPE application, as a single array fold. `aab`+merge
    (a,a) → [aa, b], and (a,a) over `aaa` → [aa, a] (no overlap reuse)."""
    # F.get is 0-based and NULL-safe out of bounds (element_at(-1) would
    # raise under ANSI mode on the empty initial accumulator). A freshly
    # fused token can never re-fuse as the left side in the same pass
    # (a+b == a would need an empty b), so eager fusing IS the canonical
    # non-overlapping left-to-right order.
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.get(acc, F.size(acc) - 1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    df: DataFrame | None,
    text_col: str = "text",
    k: int = 10,
    word_freqs: DataFrame | None = None,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Train k BPE merges over a corpus. Returns (merges, final_vocab):
    merges = [(left, right, pair_count), ...] in training order — the
    tokenizer's merge table — and final_vocab = (w, freq, symbols) after
    all merges applied.

    Ties break on (count DESC, a, b) so training is deterministic on any
    cluster layout / engine. Pass a precomputed `word_freqs` (w, freq)
    relation to skip the corpus pass — callers that also encode should
    tokenize once and share it (q_bpe_encode_tokens does).
    """
    wf = word_freq(df, text_col) if word_freqs is None else word_freqs
    vocab = wf.select(
        "w", "freq", _initial_symbols(F.col("w")).alias("symbols")
    )
    vocab = vocab.localCheckpoint(eager=False)
    merges: list[tuple[str, str, int]] = []
    for _ in range(k):
        pairs = vocab.select(
            F.explode(_adjacent_pairs(F.col("symbols"))).alias("p"), "freq"
        )
        counts = pairs.groupBy("p.a", "p.b").agg(F.sum("freq").alias("n"))
        top = counts.orderBy(F.desc("n"), "a", "b").limit(1).collect()
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((a, b, n))
        vocab = vocab.select(
            "w", "freq", _apply_merge(F.col("symbols"), a, b).alias("symbols")
        ).localCheckpoint(eager=False)
    return merges, vocab


def bpe_train_batched(
    df: DataFrame | None,
    text_col: str = "text",
    k: int = 10,
    batch: int = 32,
    word_freqs: DataFrame | None = None,
    stats: dict | None = None,
    rounds: int | None = None,
    recount: str = "delta",
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Batched-greedy BPE training (the YouTokenToMe/fastBPE-style scale
    variant): each Spark round counts pairs ONCE and merges up to `batch`
    pairwise-DISJOINT pairs from that snapshot, so a 32k-merge vocab
    trains in ~|vocab|/batch rounds instead of 32k sequential jobs — the
    round-per-merge structure is the only thing bpe_train cannot scale.

    Disjointness rule: a candidate (a, b) is skipped if a, b, or the fused
    token a+b collides with any already-chosen pair's symbols or fused
    token. Merging (a, b) only changes adjacencies that touch a or b and
    only creates pairs involving the new token a+b, so disjoint pairs
    neither invalidate each other's snapshot counts nor interact when
    applied — the batch is order-independent and each recorded count is
    exactly what the sequential trainer would have seen had it picked that
    pair at this snapshot. With batch=1 the output equals bpe_train's
    exactly (same count/tiebreak order). Larger batches may diverge from
    the strict greedy table when a merge would have promoted a brand-new
    pair above a later batch member — the documented, industry-standard
    tradeoff.

    The ranked encoder's invariant survives batching: pairs created by a
    round's merges involve that round's new tokens, which can only be
    learned in LATER rounds (higher rank), and within-round pairs are
    disjoint, so no rank inversion is reachable.

    Returns (merges, final_vocab) like bpe_train; merges carry snapshot
    counts in (count DESC, a, b) order within each round. Pass a dict as
    `stats` to receive {"rounds": n, "round_of": [round index per merge]}
    (scale probes assert the rounds ≪ merges ratio; the gate query labels
    merges by round). `rounds=r` runs EXACTLY r count rounds taking
    whatever each yields (≤ batch) — the shape an unrolled SQL oracle can
    mirror — instead of looping until k merges.

    `recount` (round-8): "delta" (the default) maintains the pair-count
    relation incrementally — a round re-counts pairs ONLY for words that
    contain a chosen pair (merging (a, b) changes no other word's pair
    multiset), folding (new − old) pair counts of the touched words into
    the cached relation via one full-outer join. A single checkpointed
    vocab pass evaluates the touch predicate AND the merge fold (the
    first cut ran ~3 vocab passes per round and LOST to the full recount
    on small vocabularies — measured, recorded in SCALING.md). After the
    single-pass restructure: 46k-word Zipf vocab, 1,000 merges — delta
    140.4 s vs full 140.5 s (parity at the small end); 1M-word vocab, 200
    merges — delta wins (full 444 s; see SCALING.md for the delta
    number), and at a real web-corpus vocab (10M+ words) the O(touched)
    rescan is the only viable shape. "full" (the r7 shape) is kept for
    the equivalence test; "auto" resolves via _DELTA_RECOUNT_MIN_VOCAB.
    Output is IDENTICAL across modes (equivalence-tested): the maintained
    counts equal a fresh aggregate by construction."""
    wf = word_freq(df, text_col) if word_freqs is None else word_freqs
    vocab = wf.select(
        "w", "freq", _initial_symbols(F.col("w")).alias("symbols")
    )
    vocab = vocab.localCheckpoint(eager=False)
    if recount == "auto":
        recount = "delta" if wf.count() >= _DELTA_RECOUNT_MIN_VOCAB else "full"
    if recount not in ("delta", "full"):
        raise ValueError(f"unknown recount mode: {recount}")
    merges: list[tuple[str, str, int]] = []
    round_of: list[int] = []
    done = 0
    counts: DataFrame | None = None
    while (done < rounds) if rounds is not None else (len(merges) < k):
        m = batch if rounds is not None else min(batch, k - len(merges))
        if counts is None or recount == "full":
            pairs = vocab.select(
                F.explode(_adjacent_pairs(F.col("symbols"))).alias("p"), "freq"
            )
            counts = pairs.groupBy("p.a", "p.b").agg(F.sum("freq").alias("n"))
            if recount == "delta":
                counts = counts.localCheckpoint(eager=False)
        # candidate window: bounded driver state (a few·batch rows); the
        # disjointness filter may reject some, later rounds recount anyway
        top = counts.orderBy(F.desc("n"), "a", "b").limit(4 * m + 16).collect()
        if not top:
            break
        done += 1
        taken: set[str] = set()  # symbols + fused tokens of chosen pairs
        chosen: list[tuple[str, str, int]] = []
        for r in top:
            a, b, n = r["a"], r["b"], int(r["n"])
            if a in taken or b in taken or (a + b) in taken:
                continue
            chosen.append((a, b, n))
            taken.update((a, b, a + b))
            if len(chosen) == m:
                break
        merges.extend(chosen)
        round_of.extend([done] * len(chosen))
        sym = F.col("symbols")
        for a, b, _n in chosen:
            sym = _apply_merge(sym, a, b)
        if recount == "delta":
            # a word is touched iff some chosen (a, b) occurs adjacently in
            # it — merging cannot change any other word's pair multiset.
            # ONE vocab pass evaluates touch + the merge fold (_new is NULL
            # for untouched words) and checkpoints; the delta explodes and
            # the next round's vocab are cheap reads of that cached pass
            # (the naive shape re-evaluated the touch predicate and fold in
            # separate filter/update scans — ~3 vocab passes per round)
            touch = F.exists(
                _adjacent_pairs(F.col("symbols")),
                lambda p: F.lit(False) if not chosen else (
                    _any_of([
                        (p["a"] == F.lit(a)) & (p["b"] == F.lit(b))
                        for a, b, _n in chosen
                    ])
                ),
            )
            upd = vocab.select(
                "w", "freq", "symbols", F.when(touch, sym).alias("_new")
            ).localCheckpoint(eager=False)
            touched = upd.where(F.col("_new").isNotNull())
            oldp = touched.select(
                F.explode(_adjacent_pairs(F.col("symbols"))).alias("p"),
                (-F.col("freq")).alias("d"),
            ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "d")
            newp = touched.select(
                F.explode(_adjacent_pairs(F.col("_new"))).alias("p"),
                F.col("freq").alias("d"),
            ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "d")
            delta = (
                oldp.unionByName(newp)
                .groupBy("a", "b")
                .agg(F.sum("d").alias("d"))
            )
            counts = (
                counts.join(delta, ["a", "b"], "full_outer")
                .select(
                    "a", "b",
                    (F.coalesce(F.col("n"), F.lit(0))
                     + F.coalesce(F.col("d"), F.lit(0))).alias("n"),
                )
                .where(F.col("n") != 0)
                .localCheckpoint(eager=False)
            )
            # projection over the cached pass — no second vocab checkpoint
            vocab = upd.select(
                "w", "freq",
                F.coalesce(F.col("_new"), F.col("symbols")).alias("symbols"),
            )
        else:
            vocab = vocab.select(
                "w", "freq", sym.alias("symbols")
            ).localCheckpoint(eager=False)
        if done % 16 == 0:
            # periodic HARD truncation: lazy localCheckpoints alone let
            # task-serialized lineage creep across many rounds — a 90+
            # round run died with StackOverflowError in task
            # deserialization before this. One eager checkpoint every 16
            # rounds bounds lineage depth at a fixed constant.
            vocab = vocab.localCheckpoint(eager=True)
            if recount == "delta" and counts is not None:
                counts = counts.localCheckpoint(eager=True)
    if stats is not None:
        stats["rounds"] = done
        stats["round_of"] = round_of
    return merges, vocab


# post-restructure measurements (SCALING.md, round 8): delta matches full
# at 46k words and wins from ~1M up, so auto only avoids delta's extra
# count-relation state on trivially small vocabularies
_DELTA_RECOUNT_MIN_VOCAB = 10_000


def _any_of(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


# Above this merge-table size the chained-fold plan stops being the right
# physical shape: each merge adds one array fold to the projection, so plan
# construction, analysis, and codegen all grow linearly in |merges| (JVM
# method bodies cap at 64 KB — a real 32k-merge vocab would fall off
# whole-stage codegen long before that, or fail to build the plan at all).
_FOLD_MAX_MERGES = 64


def _ranked_encoder(merges: list[tuple]):
    """Plain-Python BPE word encoder over a pair→rank dict: repeatedly fuse
    ALL left-to-right non-overlapping occurrences of the LOWEST-RANK
    adjacent pair present (the GPT-2/HF encode algorithm). O(len(word)²)
    worst case per word, independent of |merges|.

    Equivalent to applying the merge table sequentially in training order
    (the fold path) for any TRAINED table: a pair whose parts include the
    token produced by merge i can only have been learned after i, so every
    pair a fusion creates outranks the pair just fused — the min-rank-first
    order visits merges exactly in training order. (An arbitrary
    hand-crafted table with rank inversions can diverge; trained tables —
    the only thing bpe_train emits — cannot.)"""
    ranks = {(m[0], m[1]): i for i, m in enumerate(merges)}

    def encode(word: str) -> list[str]:
        sym = list(word)
        while len(sym) > 1:
            best = None
            for i in range(len(sym) - 1):
                r = ranks.get((sym[i], sym[i + 1]))
                if r is not None and (best is None or r < best):
                    best = r
            if best is None:
                break
            a, b = merges[best][0], merges[best][1]
            fused, out, i, n = a + b, [], 0, len(sym)
            while i < n:
                if i < n - 1 and sym[i] == a and sym[i + 1] == b:
                    out.append(fused)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            sym = out
        return sym

    return encode


def bpe_encode_words(
    words: DataFrame,
    merges: list[tuple],
    word_col: str = "w",
    strategy: str = "auto",
) -> DataFrame:
    """(word, ...) → (+ tokens array<string>): apply a trained merge table
    to each word (left-to-right non-overlapping, training order — exactly
    how HF/SentencePiece apply BPE).

    Two physical strategies, same output:
    - ``fold``: one chained JVM array fold per merge. Zero Python, fastest
      for small tables, but plan size is O(|merges|) — it cannot carry a
      real 32k-merge vocab (codegen limits; see _FOLD_MAX_MERGES).
    - ``ranked``: one Arrow-batched ``mapInPandas`` pass with the pair→rank
      dict shipped in the task closure. O(1) plan size in |merges|; the
      deliberate-Python exception, justified because a per-word ranked
      fixpoint has no constant-size JVM-expression form.
    - ``auto`` (default): fold for small tables, ranked above
      _FOLD_MAX_MERGES.

    Vocab-sized work either way: call this on DISTINCT words, never the
    corpus — the corpus then equi-joins its words to the encoded vocab
    (bpe_encode)."""
    if strategy == "auto":
        strategy = "fold" if len(merges) <= _FOLD_MAX_MERGES else "ranked"
    if strategy == "fold":
        sym = _initial_symbols(F.col(word_col))
        for m in merges:
            a, b = m[0], m[1]
            sym = _apply_merge(sym, a, b)
        return words.withColumn("tokens", sym)
    if strategy != "ranked":
        raise ValueError(f"unknown bpe encode strategy: {strategy}")

    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    out_schema = StructType(
        list(words.schema.fields)
        + [StructField("tokens", ArrayType(StringType()))]
    )
    mlist = [(m[0], m[1]) for m in merges]

    def batches(it):
        enc = _ranked_encoder(mlist)
        for pdf in it:
            pdf = pdf.copy()
            # match the fold path on the degenerate empty word:
            # split('', '') yields [''] in Spark, list('') yields []
            pdf["tokens"] = [enc(w) if w else [""] for w in pdf[word_col]]
            yield pdf

    return words.mapInPandas(batches, out_schema)


def bpe_encode(
    df: DataFrame | None,
    merges: list[tuple],
    text_col: str = "text",
    id_col: str = "doc_id",
    word_counts: DataFrame | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Tokenize a corpus with a trained BPE merge table: per-doc token
    rows (id, token, n) — n = occurrences of that token in the doc.

    Scale shape (the tokenize-100-TB pattern): the merge folds run over
    the DISTINCT-WORD relation only (vocab-sized, one row per unique
    word); the corpus-sized work is one word count aggregate and one hash
    join of (id, word, count) against the encoded vocab. The document
    text crosses no shuffle after the initial word explode. Pass a
    precomputed `word_counts` (id, w, n_w) relation to skip the corpus
    pass (share it with bpe_train's word_freqs via a groupBy)."""
    wc = word_counts
    if wc is None:
        wc = (
            df.select(F.col(id_col), F.explode(tokens(text_col)).alias("w"))
            .groupBy(id_col, "w")
            .agg(F.count(F.lit(1)).alias("n_w"))
        )
    return token_counts(wc, merges, [id_col], strategy=strategy)


def token_counts(
    word_counts: DataFrame,
    merges: list[tuple],
    by: list[str],
    strategy: str = "auto",
) -> DataFrame:
    """(*by, w, n_w) word counts → (*by, token, n): encode the DISTINCT
    vocab once, join the word counts to it and sum n_w per token. With
    `by=[]` this is the corpus-global token count, which skips the
    (id, token) exchange a per-doc count pays."""
    # the merge folds are CPU-heavy per word (chained array folds); AQE
    # coalesces the small distinct-word relation to 1-2 partitions, which
    # serializes them — spread the vocab across the cluster first
    n_part = word_counts.sparkSession.sparkContext.defaultParallelism
    vocab = bpe_encode_words(
        word_counts.select("w").distinct().repartition(n_part), merges, strategy=strategy
    )
    # explode_OUTER, deliberately (r13, found by the x10 probe): a plain
    # explode lets InferFiltersFromGenerate derive `size(tokens) > 0 AND
    # tokens IS NOT NULL` and push it through the distinct down to the
    # corpus scan — re-evaluating the full merge-fold expression PER
    # CORPUS ROW instead of per vocab row (measured 4.4 s vs 1.2 s at x10;
    # the ranked kernel was immune only because mapInPandas is a pushdown
    # barrier). tokens is never NULL or empty here (split() yields [''] on
    # the empty word, the ranked kernel mirrors it), so outer == inner.
    per_word = word_counts.join(vocab, "w").select(
        *by, F.explode_outer("tokens").alias("token"), "n_w"
    )
    return per_word.groupBy(*by, "token").agg(F.sum("n_w").alias("n"))
