"""BPE trainer (functions/bpe.py) vs a plain-Python reference."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from peerdb_spark.functions.bpe import _apply_merge, bpe_train


def python_bpe(word_freqs: dict[str, int], k: int):
    """Reference BPE (Sennrich-style): greedy most-frequent pair, ties on
    (count desc, a, b); merges applied left-to-right non-overlapping."""
    vocab = {w: list(w) for w in word_freqs}
    merges = []
    for _ in range(k):
        counts = Counter()
        for w, sym in vocab.items():
            f = word_freqs[w]
            for x, y in zip(sym, sym[1:]):
                counts[(x, y)] += f
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, n))
        for w, sym in vocab.items():
            out = []
            for x in sym:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            vocab[w] = out
    return merges, vocab


def test_apply_merge_overlap_semantics(spark):
    df = spark.createDataFrame([(["a", "a", "a"],), (["a", "a", "a", "a"],)], "s array<string>")
    got = [r["m"] for r in df.select(_apply_merge(F.col("s"), "a", "a").alias("m")).collect()]
    assert got == [["aa", "a"], ["aa", "aa"]]


def test_bpe_train_matches_python_reference(spark):
    texts = [
        "low low low lower lowest",
        "new newer newest new new",
        "wide wider widest low new",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    wf = Counter(w for t in texts for w in t.split())
    want_merges, want_vocab = python_bpe(dict(wf), k=8)
    got_merges, got_vocab_df = bpe_train(df, "text", k=8)
    assert got_merges == want_merges
    got_vocab = {r["w"]: r["symbols"] for r in got_vocab_df.collect()}
    assert got_vocab == want_vocab


def test_bpe_train_on_corpus_sample(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges, vocab = bpe_train(docs.limit(50), "text", k=4)
    assert len(merges) == 4
    # merge counts are non-increasing in a greedy trainer? NOT guaranteed in
    # general BPE (a fuse can create a NEW dominant pair), but each count is
    # positive and each merge pair is distinct
    assert all(n > 0 for _, _, n in merges)
    assert len({(a, b) for a, b, _ in merges}) == 4


def test_bpe_train_hypothesis_random_corpora(spark):
    """Property: Spark BPE == plain-Python BPE on random small corpora."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="abc", min_size=1, max_size=5)
    corpus = st.lists(
        st.lists(word, min_size=1, max_size=8).map(" ".join),
        min_size=1,
        max_size=6,
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(texts=corpus)
    def check(texts):
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        wf = Counter(w for t in texts for w in t.split())
        want_merges, want_vocab = python_bpe(dict(wf), k=3)
        got_merges, got_vocab_df = bpe_train(df, "text", k=3)
        assert got_merges == want_merges
        got_vocab = {r["w"]: r["symbols"] for r in got_vocab_df.collect()}
        assert got_vocab == want_vocab

    check()


def test_bpe_encode_matches_python_reference(spark):
    """Corpus tokenization with a trained merge table: per-doc token counts
    must equal encoding every word with the reference implementation."""
    texts = [
        "low low lower lowest new",
        "new newer newest wide low",
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    wf = Counter(w for t in texts for w in t.split())
    merges, ref_vocab = python_bpe(dict(wf), k=6)
    from peerdb_spark.functions.bpe import bpe_encode

    got = {
        (r["doc_id"], r["token"]): r["n"]
        for r in bpe_encode(df, merges, "text", "doc_id").collect()
    }
    want = Counter()
    for i, t in enumerate(texts):
        for w in t.split():
            for tok in ref_vocab[w]:
                want[(i, tok)] += 1
    assert got == dict(want)
    # empty doc contributes nothing
    assert not any(d == 2 for d, _ in got)


def test_bpe_encode_ranked_equals_fold_on_trained_tables(spark):
    """Property: the O(1)-plan-size ranked encoder (mapInPandas over a
    pair→rank dict) produces EXACTLY the chained-fold path's tokens for any
    TRAINED merge table — the rank-monotonicity argument in
    _ranked_encoder's docstring, exercised over random corpora."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from peerdb_spark.functions.bpe import bpe_encode_words

    word = st.text(alphabet="abcd", min_size=1, max_size=7)
    corpus = st.lists(word, min_size=3, max_size=30)

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(words=corpus, k=st.integers(min_value=1, max_value=12))
    def check(words, k):
        wf = Counter(words)
        merges, ref_vocab = python_bpe(dict(wf), k=k)
        wdf = spark.createDataFrame([(w,) for w in set(words)], "w string")
        fold = {
            r["w"]: r["tokens"]
            for r in bpe_encode_words(wdf, merges, strategy="fold").collect()
        }
        ranked = {
            r["w"]: r["tokens"]
            for r in bpe_encode_words(wdf, merges, strategy="ranked").collect()
        }
        assert ranked == fold
        assert ranked == {w: ref_vocab[w] for w in ranked}

    check()


def test_bpe_encode_words_never_yields_null_or_empty_token_arrays(spark):
    """bpe_encode explodes the vocab's tokens with explode_OUTER only to
    keep Catalyst from inferring a `size(tokens) > 0` filter into the corpus
    scan; that equals a plain explode only while no word encodes to a NULL
    or empty array. Pin it for both strategies, the empty word included
    (Spark's split('', '') gives [''], and the ranked kernel mirrors it)."""
    from peerdb_spark.functions.bpe import bpe_encode_words

    words = ["", "a", "low", "lower", "lowest", "newest", "wide"]
    merges, _ = python_bpe(Counter(["low", "lower", "newest", "wide"]), k=6)
    wdf = spark.createDataFrame([(w,) for w in words], "w string")
    for strategy in ("fold", "ranked"):
        got = {r["w"]: r["tokens"]
               for r in bpe_encode_words(wdf, merges, strategy=strategy).collect()}
        assert set(got) == set(words)
        assert got[""] == [""], strategy
        for w in words[1:]:
            assert got[w] and all(got[w]) and "".join(got[w]) == w, (strategy, w)


def test_bpe_encode_ranked_large_merge_table(spark):
    """The scale path: a ≥1,000-merge trained table (the fold path's plan
    would be 1,000 chained array folds — unbuildable at real vocab sizes)
    encodes the full distinct-word relation correctly via the ranked
    mapInPandas pass, whose plan is O(1) in |merges|."""
    import random

    from peerdb_spark.functions.bpe import bpe_encode_words

    rng = random.Random(17)
    words = [
        "".join(rng.choice("abcdefghijklmnopqrst") for _ in range(12))
        for _ in range(600)
    ]
    wf = Counter({w: rng.randint(1, 9) for w in words})
    merges, ref_vocab = python_bpe(dict(wf), k=1000)
    assert len(merges) >= 1000
    wdf = spark.createDataFrame([(w,) for w in set(words)], "w string")
    out = bpe_encode_words(wdf, merges)  # auto → ranked above threshold
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    got = {r["w"]: r["tokens"] for r in out.collect()}
    assert got == {w: ref_vocab[w] for w in got}


def test_bpe_encode_ranked_plan_size_flat_in_merges(spark):
    """Plan size must not grow with the merge table: 16 merges vs 2,048
    merges produce (near-)identical physical plans — the table rides in the
    task closure, never the plan."""
    from peerdb_spark.functions.bpe import bpe_encode_words

    wdf = spark.createDataFrame([("abcd",), ("bcda",)], "w string")

    def plan_len(n_merges):
        merges = [(chr(97 + i % 26), chr(97 + (i // 26) % 26)) for i in range(n_merges)]
        df = bpe_encode_words(wdf, merges, strategy="ranked")
        return len(df._jdf.queryExecution().executedPlan().toString())

    small, big = plan_len(16), plan_len(2048)
    assert big <= small * 1.1


def test_bpe_train_then_encode_roundtrip(spark):
    """Encoding the training corpus with its own merges reproduces the
    trainer's final vocab token stream."""
    texts = ["ab ab abc abc abc", "ab abcd"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, final_vocab = bpe_train(df, "text", k=4)
    from peerdb_spark.functions.bpe import bpe_encode

    enc = bpe_encode(df, merges, "text", "doc_id")
    got_global = {
        r["token"]: r["n"]
        for r in enc.groupBy("token").agg(F.sum("n").alias("n")).collect()
    }
    want_global = Counter()
    for r in final_vocab.collect():
        for tok in r["symbols"]:
            want_global[tok] += r["freq"]
    assert got_global == dict(want_global)


def python_bpe_batched(word_freqs: dict[str, int], k: int, batch: int):
    """Reference for the batched-greedy trainer: same snapshot ordering
    and symbol/fused-token disjointness rule as bpe_train_batched."""
    vocab = {w: list(w) for w in word_freqs}
    merges = []
    while len(merges) < k:
        m = min(batch, k - len(merges))
        counts = Counter()
        for w, sym in vocab.items():
            f = word_freqs[w]
            for x, y in zip(sym, sym[1:]):
                counts[(x, y)] += f
        if not counts:
            break
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        taken, chosen = set(), []
        for (a, b), n in ranked[: 4 * m + 16]:
            if a in taken or b in taken or (a + b) in taken:
                continue
            chosen.append((a, b, n))
            taken.update((a, b, a + b))
            if len(chosen) == m:
                break
        merges.extend(chosen)
        for a, b, _n in chosen:
            for w, sym in vocab.items():
                out = []
                for x in sym:
                    if out and out[-1] == a and x == b:
                        out[-1] = a + b
                    else:
                        out.append(x)
                vocab[w] = out
    return merges, vocab


def test_bpe_train_batched_batch1_equals_sequential(spark):
    from peerdb_spark.functions.bpe import bpe_train_batched

    texts = [
        "low low low lower lowest",
        "new newer newest new new",
        "wide wider widest low new",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    seq_merges, seq_vocab_df = bpe_train(df, "text", k=6)
    bat_merges, bat_vocab_df = bpe_train_batched(df, "text", k=6, batch=1)
    assert bat_merges == seq_merges
    assert (
        {r["w"]: r["symbols"] for r in bat_vocab_df.collect()}
        == {r["w"]: r["symbols"] for r in seq_vocab_df.collect()}
    )


def test_bpe_train_batched_matches_python_reference(spark):
    from peerdb_spark.functions.bpe import bpe_train_batched

    texts = [
        "aaab aab ab abc abcd",
        "low lower lowest newest new",
        "xy xyz zyx yxz xzy zxy",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    wf = Counter(w for t in texts for w in t.split())
    for batch in (2, 4, 8):
        want_merges, want_vocab = python_bpe_batched(dict(wf), k=10, batch=batch)
        got_merges, got_vocab_df = bpe_train_batched(df, "text", k=10, batch=batch)
        assert got_merges == want_merges, batch
        got_vocab = {r["w"]: r["symbols"] for r in got_vocab_df.collect()}
        assert got_vocab == want_vocab, batch


def test_bpe_train_batched_disjointness_invariants(spark):
    """Within any round, chosen pairs share no symbols and no fused token
    doubles as another pair's symbol — the property that makes the batch
    order-independent. Verified via the python reference on a corpus
    engineered with chained dominant pairs (ab, bc, cd all frequent)."""
    wf = {"abcd": 50, "ab": 40, "bc": 39, "cd": 38, "da": 5}
    merges, _ = python_bpe_batched(wf, k=6, batch=4)
    # the corpus exhausts after 5 merges (every word fully fused)
    assert [m[:2] for m in merges] == [
        ("a", "b"), ("c", "d"), ("ab", "cd"), ("b", "c"), ("d", "a")
    ]
    # first round: (a,b) taken; (b,c) shares b → skipped; (c,d) disjoint →
    # taken; (d,a) shares d → skipped
    assert merges[0][:2] == ("a", "b") and merges[1][:2] == ("c", "d")


def test_bpe_encode_ranked_works_on_batched_tables(spark):
    """The ranked encoder's no-rank-inversion invariant must survive
    batched training (within-round pairs are disjoint; created pairs only
    involve later-round tokens)."""
    from peerdb_spark.functions.bpe import bpe_encode_words, bpe_train_batched

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges, _ = bpe_train_batched(docs.limit(80), "text", k=24, batch=8)
    assert len(merges) == 24
    words = (
        docs.limit(80)
        .select(F.explode(F.split("text", r"\s+")).alias("w"))
        .where(F.length("w") > 0)
        .distinct()
    )
    fold = {r["w"]: r["tokens"]
            for r in bpe_encode_words(words, merges, strategy="fold").collect()}
    ranked = {r["w"]: r["tokens"]
              for r in bpe_encode_words(words, merges, strategy="ranked").collect()}
    assert fold == ranked


def test_bpe_train_batched_delta_equals_full_recount(spark):
    """Round-8 delta recounting: maintaining the pair-count relation
    incrementally (re-count only words containing a chosen pair) must
    produce IDENTICAL merges, counts, and final vocab to the full
    per-round recount — on corpora exercising overlaps ('aaaa'),
    multi-round batches, and words untouched for many rounds."""
    from peerdb_spark.functions.bpe import bpe_train_batched

    texts = [
        "aaaa aaa aa ab abc abcd aab",
        "low lower lowest newest new newer",
        "xy xyz zyx yxz xzy zxy quiet quiet",
        "repetition repetition repetitions",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    for batch in (1, 3, 8):
        sd, sf_ = {}, {}
        d_merges, d_vocab = bpe_train_batched(
            df, "text", k=14, batch=batch, stats=sd, recount="delta")
        f_merges, f_vocab = bpe_train_batched(
            df, "text", k=14, batch=batch, stats=sf_, recount="full")
        assert d_merges == f_merges, batch
        assert sd == sf_, batch
        assert (
            {r["w"]: r["symbols"] for r in d_vocab.collect()}
            == {r["w"]: r["symbols"] for r in f_vocab.collect()}
        ), batch


def test_bpe_delta_equals_full_hypothesis(spark):
    """Property: delta recounting == full recount on RANDOM corpora (the
    fixed-fixture equivalence test plus generative coverage of overlap
    runs, single-char words, and sparse pair distributions)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from peerdb_spark.functions.bpe import bpe_train_batched

    word = st.text(alphabet="abc", min_size=1, max_size=6)
    corpus = st.lists(
        st.lists(word, min_size=1, max_size=6).map(" ".join),
        min_size=1,
        max_size=4,
    )

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(texts=corpus, batch=st.integers(min_value=1, max_value=6))
    def check(texts, batch):
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        d_m, d_v = bpe_train_batched(df, "text", k=8, batch=batch,
                                     recount="delta")
        f_m, f_v = bpe_train_batched(df, "text", k=8, batch=batch,
                                     recount="full")
        assert d_m == f_m
        assert (
            {r["w"]: r["symbols"] for r in d_v.collect()}
            == {r["w"]: r["symbols"] for r in f_v.collect()}
        )

    check()
