"""BPE training: the one-task trainer must reproduce a direct Python
reference implementation (independent code path — full pair recount
per merge + list-based merge) on vocabularies with ties, overlapping
pairs, back-to-back merge sites and multi-byte UTF-8 symbols."""

from __future__ import annotations

import pandas as pd

from dimagi_data_platform_spark.operators.bpe import (
    SEP,
    bpe_segment,
    bpe_train,
    bpe_train_apply,
)


def _wordfreq(spark, vocab: dict[str, int]):
    """A (w, freq) frame built from pandas, so its scans stay JVM-side."""
    return spark.createDataFrame(
        pd.DataFrame({"w": list(vocab), "freq": list(vocab.values())}),
        "w string, freq long",
    )


def _merge_rows(df) -> list[tuple]:
    return [
        (r["a"], r["b"], r["merged"], r["pair_count"])
        for r in df.orderBy("step").collect()
    ]


def _ref_bpe(vocab: dict[str, int], n_merges: int):
    """Reference BPE (Sennrich et al. 2016 pseudo-code): words as
    symbol tuples; merge left-to-right non-overlapping."""
    segs = {tuple(w): f for w, f in vocab.items()}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in segs.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        # argmax with (count desc, pair asc) tie-break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), c = best
        merges.append((a, b, a + b, c))
        out = {}
        for syms, f in segs.items():
            new = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    new.append(a + b)
                    i += 2
                else:
                    new.append(syms[i])
                    i += 1
            out[tuple(new)] = out.get(tuple(new), 0) + f
        segs = out
    return merges, segs


VOCAB = {
    "low": 5,
    "lower": 2,
    "newest": 6,
    "widest": 3,
    "aaa": 4,  # overlapping pair site: (a,a) counts 2/word, merges once
    "abab": 2,  # back-to-back merge sites
}


def test_bpe_train_matches_reference(spark):
    got = _merge_rows(bpe_train(_wordfreq(spark, VOCAB), 6))
    want, _ = _ref_bpe(VOCAB, 6)
    assert got == want


def test_bpe_segment_applies_learned_merges(spark):
    wf = _wordfreq(spark, VOCAB)
    merges, ref_segs = _ref_bpe(VOCAB, 6)
    out = bpe_segment(wf, [(a, b) for a, b, _, _ in merges])
    got = {}
    for r in out.collect():
        got[tuple(r["symbols"])] = got.get(tuple(r["symbols"]), 0) + r["freq"]
    assert got == ref_segs


def test_bpe_overlap_semantics(spark):
    # "aaaa" with pair (a,a): count 3 occurrences, merge produces
    # (aa, aa) — left-to-right non-overlap, never (a, aa, a)
    wf = _wordfreq(spark, {"aaaa": 1})
    rows = bpe_train(wf, 2).orderBy("step").collect()
    assert (rows[0]["a"], rows[0]["b"], rows[0]["pair_count"]) == ("a", "a", 3)
    assert (rows[1]["a"], rows[1]["b"]) == ("aa", "aa")


def test_bpe_random_vocabs_match_reference(spark):
    """Randomized equivalence: small random vocabularies over a tiny
    alphabet (maximizing tie/overlap/adjacent-merge cases) must
    reproduce the reference merges exactly."""
    import random

    rng = random.Random(7)
    for trial in range(4):
        vocab = {}
        for _ in range(rng.randint(4, 10)):
            w = "".join(
                rng.choice("ab") for _ in range(rng.randint(2, 7))
            )
            vocab[w] = vocab.get(w, 0) + rng.randint(1, 9)
        n_merges = rng.randint(1, 5)
        want, _ = _ref_bpe(vocab, n_merges)
        got = _merge_rows(bpe_train(_wordfreq(spark, vocab), n_merges))
        assert got == want, f"trial {trial}: vocab={vocab} n={n_merges}"


# one- to four-byte UTF-8 symbols. Code-point order (Python's, and the
# UTF-8 byte order Spark and DuckDB compare in) and UTF-16 order differ
# on the last two: U+FF41 sorts before U+1F642 only by code point
_ALPHABET = ["a", "b", "é", "ß", "ａ", "🙂"]


def _random_vocab(rng) -> dict[str, int]:
    """Words over a few symbols with counts 1-3, so pair counts tie
    often, plus forced overlapping (``aaa``) and back-to-back
    (``abab``) merge sites in the same symbols."""
    syms = rng.sample(_ALPHABET, rng.randint(2, 4))
    x, y = syms[0], syms[1]
    vocab = {x * 3: rng.randint(1, 3), (x + y) * 2: rng.randint(1, 3)}
    for _ in range(rng.randint(3, 12)):
        w = "".join(rng.choice(syms) for _ in range(rng.randint(1, 8)))
        vocab[w] = vocab.get(w, 0) + rng.randint(1, 3)
    return vocab


def _segments(df) -> dict[tuple, int]:
    out: dict[tuple, int] = {}
    for r in df.collect():
        syms = tuple(r["seg"].strip(" ").split(SEP))
        out[syms] = out.get(syms, 0) + r["freq"]
    return out


def test_bpe_one_task_trainer_matches_reference_property(spark):
    """Seeded random vocabularies: the merge table of ``bpe_train`` and
    the final segments of ``bpe_train_apply`` equal the reference's,
    through count ties, overlapping and back-to-back sites and
    multi-byte symbols in tie positions. Asking for more merges than
    the vocabulary has pairs stops early, as the reference does."""
    import random

    rng = random.Random(20261020)
    for trial in range(8):
        vocab = _random_vocab(rng)
        # the last trials ask for more merges than there are pairs
        n_merges = rng.randint(2, 8) if trial < 6 else 60
        want, want_segs = _ref_bpe(vocab, n_merges)
        wf = _wordfreq(spark, vocab)
        got = _merge_rows(bpe_train(wf, n_merges))
        ctx = f"trial {trial}: vocab={vocab} n={n_merges}"
        assert got == want, ctx
        assert _segments(bpe_train_apply(wf, n_merges)) == want_segs, ctx
        if trial >= 6:
            assert len(want) < n_merges, ctx
    # a tie between a three-byte and a four-byte pair resolves by code
    # point (U+FF41 first), not by UTF-16 units (a surrogate first)
    got = _merge_rows(bpe_train(_wordfreq(spark, {"ａａ": 2, "🙂🙂": 2}), 1))
    assert got == [("ａ", "ａ", "ａａ", 2)]


def test_bpe_empty_vocab_and_null_words(spark):
    """An empty vocabulary (the training task reads an empty partition)
    trains no merges and segments nothing; a NULL word has no pairs and
    comes back as a NULL segment with its frequency."""
    empty = spark.range(4).filter("id < 0").selectExpr("'ab' AS w", "id AS freq")
    assert bpe_train(empty, 3).collect() == []
    assert bpe_train_apply(empty, 3).collect() == []
    wf = _wordfreq(spark, {"abab": 2, None: 5})
    assert _merge_rows(bpe_train(wf, 3)) == _ref_bpe({"abab": 2}, 3)[0]
    segs = {r["seg"]: r["freq"] for r in bpe_train_apply(wf, 1).collect()}
    assert segs == {"  ab  ab  ": 2, None: 5}


def test_byte_bpe_encode_matches_reference_token_for_token(spark):
    """L38c acceptance: the Spark replace-chain encoder must equal the
    pure-Python min-rank reference EXACTLY (token for token) on a
    fixture corpus spanning ASCII, accents, Cyrillic, CJK, emoji
    (1-4 byte UTF-8), digits, punctuation, and space-attachment."""
    from dimagi_data_platform_spark.functions.bytebpe import (
        PRETOKEN_RE,
        byte_bpe_encode_words,
        encode_py,
        encode_word_py,
        pretokenize_py,
    )
    from pyspark.sql import functions as F

    corpus = [
        "All human beings are born free and equal in dignity.",
        "The quick brown fox jumps over the lazy dog!",
        "héllo wörld — Ж 中文 🙂 naïve café",
        "acct#42: pay $3.50 now; 100% done?",
        "and and and the the conscience brotherhood",
        "  leading  and   trailing   spaces  ",
        "tabs\tand\nnewlines\r\nmixed",
    ]
    # 1) Spark pretokenizer == python reference (regex semantics pin)
    df = spark.createDataFrame(pd.DataFrame({"t": corpus}), "t string")
    got = {
        r.t: list(r.toks)
        for r in df.select(
            "t", F.regexp_extract_all("t", F.lit(PRETOKEN_RE), 0).alias("toks")
        ).collect()
    }
    for s in corpus:
        assert got[s] == pretokenize_py(s), s
        assert "".join(pretokenize_py(s)) == s  # lossless

    # 2) word-level encode == min-rank reference, token for token
    words = sorted({w for s in corpus for w in pretokenize_py(s)})
    wdf = spark.createDataFrame(pd.DataFrame({"w": words}), "w string")
    enc = {r.w: list(r.symbols) for r in byte_bpe_encode_words(wdf).collect()}
    for w in words:
        assert enc[w] == encode_word_py(w), (w, enc[w], encode_word_py(w))

    # 3) full-text counts line up through the composition
    for s in corpus:
        ref = encode_py(s)
        got_n = sum(len(enc[w]) for w in pretokenize_py(s))
        assert got_n == len(ref), s


def test_byte_bpe_vocab_and_mapping_invariants():
    """The committed vocab is deterministic and the byte alphabet is a
    true bijection whose symbols never contain the separator space."""
    from dimagi_data_platform_spark.functions.bytebpe import (
        FIXTURE_CORPUS,
        VOCAB_MERGES,
        bytes_to_unicode,
        encode_word_py,
        train_byte_merges,
        word_to_symbols,
    )

    m = bytes_to_unicode()
    assert len(m) == 256 and len(set(m.values())) == 256
    assert all(" " not in s and not s.isspace() for s in m.values())
    assert train_byte_merges(FIXTURE_CORPUS, 64) == VOCAB_MERGES
    assert len(VOCAB_MERGES) == 64
    # encoding is lossless at the byte-symbol level: concatenated
    # tokens reproduce the byte-mapped word
    for w in ("conscience", " the", "🙂", "ß"):
        assert "".join(encode_word_py(w)) == "".join(word_to_symbols(w))


def _ref_unigram_unrolled(
    texts, vocab_size=100, n_iter=2, max_cand=2000, L=12, P=4
):
    """Independent pure-Python replay of unigram_train_unrolled (L38e):
    bounded flat-Viterbi hard-EM with packed (cost, piece-count) min
    and shortest-last-piece tie-break, fixed-point lnq costs."""
    import math
    import re
    from collections import Counter

    lnq = lambda x: math.floor(math.log(x) * 1e6)  # noqa: E731
    words: Counter = Counter()
    for t in texts:
        for w in re.split(r"\s+", (t or "").strip().lower()):
            if w and re.fullmatch(r"[a-z]+", w) and len(w) <= L:
                words[w] += 1
    cand: Counter = Counter()
    for w, f in words.items():
        for i in range(len(w)):
            for j in range(i + 1, min(len(w), i + P) + 1):
                cand[w[i:j]] += f
    chars = {p for p in cand if len(p) == 1}
    longer = sorted(
        ((p, c) for p, c in cand.items() if len(p) > 1),
        key=lambda x: (-x[1], x[0]),
    )[:max_cand]
    counts = {p: c for p, c in cand.items() if len(p) == 1}
    counts.update(dict(longer))

    def segment(w, cost):
        n = len(w)
        best = [0] + [None] * n
        back = [0] * (n + 1)
        for i in range(1, n + 1):
            b, blen = None, 0
            for l in range(1, min(P, i) + 1):  # noqa: E741
                c = cost.get(w[i - l : i])
                if c is None or best[i - l] is None:
                    continue
                v = best[i - l] + c * 16 + 1
                if b is None or v < b:  # first-wins: shortest last piece
                    b, blen = v, l
            best[i], back[i] = b, blen
        out, pos = [], n
        while pos > 0:
            out.append(w[pos - back[pos] : pos])
            pos -= back[pos]
        return out

    for _ in range(n_iter):
        tot = sum(counts.values())
        cost = {p: lnq(tot) - lnq(c) for p, c in counts.items()}
        new: Counter = Counter()
        for w, f in words.items():
            for p in segment(w, cost):
                new[p] += f
        counts = dict(new)
        for ch in chars:
            counts.setdefault(ch, 1)
    tot = sum(counts.values())
    rows = [
        (p, c, lnq(c) - lnq(tot))
        for p, c in counts.items()
        if len(p) == 1
    ]
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda x: (-x[1], x[0]),
    )[:vocab_size]
    rows += [(p, c, lnq(c) - lnq(tot)) for p, c in multi]
    return sorted(rows, key=lambda x: (-x[1], x[0]))


def test_unigram_train_unrolled_matches_python_reference(spark):
    """L38e: the fully SQL-replayable trainer must reproduce an
    independent Python replay piece-for-piece (counts AND fixed-point
    logps) on the sf0.001 documents corpus — a third engine beside
    the DuckDB twin."""
    from dimagi_data_platform_spark.operators.unigram_lm import (
        unigram_train_unrolled,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    texts = [r.text for r in docs.select("text").collect()]
    ref = _ref_unigram_unrolled(texts)
    got = [
        (r.piece, r.piece_count, r.logp)
        for r in unigram_train_unrolled(docs).collect()
    ]
    assert sorted(got, key=lambda x: (-x[1], x[0])) == ref
    assert len(ref) > 26  # multi-char pieces actually survived
