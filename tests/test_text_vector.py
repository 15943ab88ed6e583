"""Differential pins for the Arrow-native xe gram builder
(operators/text._xe_grams_pa) against the per-row reference loop
(_xe_grams_loop), and for the other vectorized text bodies against
their executable specs.  All but the last test are pure pandas/pyarrow
— no Spark session — so they run in milliseconds and cover adversarial
shapes the fixture corpus lacks.  The Spark-level equality of the UDFs
against the JVM HOF twins is pinned separately in
tests/test_guards.py::test_arrow_gram_udfs_match_jvm_twins.
"""

import random
import string

import pandas as pd
import pyarrow as pa

from shadems_spark.operators.text import _xe_grams_loop, _xe_grams_pa


def _check(texts, n=3):
    want = list(_xe_grams_loop(pd.Series(texts, dtype=object), n))
    got = _xe_grams_pa(pa.array(texts, type=pa.string()), n).to_pylist()
    assert got == want, f"n={n}: {got} != {want}"


def test_edge_shapes():
    _check(
        [
            None,
            "",
            " ",
            "   ",
            "one",
            "one two",
            "one two three",
            "a  b   c d",  # empty tokens between multiple spaces
            "x y z x y z x y z",  # repeated grams (first-occurrence dedup)
            " leading and trailing ",
        ]
    )


def test_all_null_batch():
    _check([None, None, None])


def test_empty_batch():
    _check([])


def test_unicode_codepoints():
    # ord() vs UTF-32 identity: multi-byte UTF-8, astral-plane chars
    _check(["café naïve 你好 \U0001f600 é你", "你好 你好 你好 你"]);


def test_various_n():
    texts = ["the quick brown fox jumps over the lazy dog", "a b", "a", ""]
    for n in (1, 2, 3, 4, 5):
        _check(texts, n)


def test_random_corpus():
    rng = random.Random(1234)
    vocab = [
        "".join(rng.choices(string.ascii_lowercase, k=rng.randint(1, 12)))
        for _ in range(200)
    ]
    texts = []
    for i in range(300):
        if i % 37 == 0:
            texts.append(None)
            continue
        k = rng.randint(0, 40)
        # occasional double spaces to exercise empty-token filtering
        sep = "  " if i % 11 == 0 else " "
        texts.append(sep.join(rng.choices(vocab, k=k)))
    for n in (2, 3, 4):
        _check(texts, n)


def test_long_words_power_table():
    # word lengths past any small pow table, incl. a 5000-char word
    _check(["x" * 5000 + " " + "y" * 1 + " " + "z" * 300, "ab" * 1000])


# ---- winnow vectorization pins ----

from shadems_spark.operators.text import FP_MOD, _poly_hash_flat, _winnow_numpy


def _naive_winnow(t, k, w):
    """Executable spec of the JVM winnow pipeline: words with empties
    KEPT, k-gram join with single spaces, 31-poly char hash mod FP_MOD
    of the gram STRING, sliding w-window min, first-occurrence dedup."""
    if t is None:
        return None
    ws = t.split(" ")
    grams = [" ".join(ws[i:i + k]) for i in range(len(ws) - k + 1)]
    hs = []
    for g in grams:
        a = 0
        for ch in g:
            a = (a * 31 + ord(ch)) % FP_MOD
        hs.append(a)
    mins = [min(hs[i:i + w]) for i in range(len(hs) - w + 1)]
    return list(dict.fromkeys(mins))


def _check_winnow(texts, k=3, w=4):
    s = pd.Series(texts, dtype=object)
    got = list(_winnow_numpy(s, k, w))
    want = [_naive_winnow(t, k, w) for t in texts]
    assert got == want, f"k={k},w={w}: {got} != {want}"


def test_winnow_edges():
    _check_winnow(
        [
            None,
            "",
            " ",
            "a  b   c d",  # empty tokens KEPT by words()
            "one two three four five six seven",
            "x y z x y z x y z x y z",  # repeated fingerprints
            " lead and trail ",
            "short",
        ]
    )


def test_winnow_params():
    texts = ["the quick brown fox jumps over the lazy dog today again", "a b c", ""]
    for k in (1, 2, 3):
        for w in (1, 2, 4, 6):
            _check_winnow(texts, k, w)


def test_winnow_random():
    rng = random.Random(77)
    vocab = ["w%d" % i for i in range(50)] + ["é你", "x"]
    texts = []
    for i in range(200):
        if i % 23 == 0:
            texts.append(None)
            continue
        sep = "  " if i % 9 == 0 else " "
        texts.append(sep.join(rng.choices(vocab, k=rng.randint(0, 25))))
    _check_winnow(texts)


def test_poly_hash_flat_empty_strings():
    import numpy as np

    def ph(s):
        a = 0
        for ch in s:
            a = (a * 31 + ord(ch)) % FP_MOD
        return a

    for strs in (
        ["", "ab", "", "", "zzz", ""],
        ["", "", ""],
        [],
        ["lone"],
        ["tail", ""],
    ):
        h, lens, _ = _poly_hash_flat(strs)
        assert list(h) == [ph(s) for s in strs], strs
        assert list(lens) == [len(s) for s in strs]


# ---- word_buckets vectorization pin ----

from shadems_spark.operators.text import _word_buckets_numpy


def _naive_buckets(t, d):
    if t is None:
        return None
    out = []
    for w in t.split(" "):
        if not w:
            continue
        a = 0
        for ch in w:
            a = (a * 31 + ord(ch)) % FP_MOD
        out.append(a % d)
    return out


def test_word_buckets_numpy():
    texts = [
        None, "", " ", "one", "a  b   c d", "x y z x y z",
        "café 你好 😀ab", " lead trail ",
    ]
    rng = random.Random(5)
    vocab = ["w%d" % i for i in range(60)]
    for i in range(150):
        texts.append(" ".join(rng.choices(vocab, k=rng.randint(0, 20))))
    for d in (2, 16, 97):
        s = pd.Series(texts, dtype=object)
        got = list(_word_buckets_numpy(s, d))
        want = [_naive_buckets(t, d) for t in texts]
        assert got == want, f"d={d}"


# ---- word_ngrams arrow-native pin ----

from shadems_spark.operators.text import _word_ngrams_loop, _word_ngrams_pa


def _check_ng(texts, n=3):
    import pyarrow as pa

    want = list(_word_ngrams_loop(pd.Series(texts, dtype=object), n))
    got = _word_ngrams_pa(pa.array(texts, type=pa.string()), n).to_pylist()
    assert got == want, f"n={n}: {got} != {want}"


def test_word_ngrams_pa_edges():
    _check_ng(
        [
            None, "", " ", "   ",
            "one", "one two", "one two three",
            "a  b   c d",
            "x y z x y z x y z",
            " lead and trail ",
            "café 你好 😀 end",
        ]
    )


def test_word_ngrams_pa_all_null_and_empty():
    _check_ng([None, None])
    _check_ng([])
    _check_ng(["", None, ""])


def test_word_ngrams_pa_various_n():
    texts = ["the quick brown fox jumps over it", "a b", "a", "", None]
    for n in (1, 2, 3, 4):
        _check_ng(texts, n)


def test_word_ngrams_pa_random():
    rng = random.Random(99)
    vocab = ["w%d" % i for i in range(80)] + ["é你"]
    texts = []
    for i in range(250):
        if i % 31 == 0:
            texts.append(None)
            continue
        sep = "  " if i % 13 == 0 else " "
        texts.append(sep.join(rng.choices(vocab, k=rng.randint(0, 30))))
    for n in (2, 3):
        _check_ng(texts, n)


def test_word_ngrams_pa_chunked():
    import pyarrow as pa

    texts = ["a b c d", None, "x y z w v"]
    want = list(_word_ngrams_loop(pd.Series(texts, dtype=object), 3))
    chunked = pa.chunked_array([texts[:2], texts[2:]], type=pa.string())
    got = _word_ngrams_pa(chunked, 3).to_pylist()
    assert got == want


# ---- more xe gram shapes ----


def test_xe_grams_pa_edges():
    _check(
        [
            None, "", " ", "   ",
            "one", "one two", "one two three",
            "a  b   c d",
            "x y z x y z x y z",
            " lead and trail ",
            "café 你好 😀 end",
        ]
    )
    _check([None, None])
    _check([])


def test_xe_grams_pa_various_n():
    texts = ["the quick brown fox jumps over it", "a b", "a", "", None]
    for n in (1, 2, 3, 4):
        _check(texts, n)


def test_xe_grams_pa_random():
    rng = random.Random(123)
    vocab = ["w%d" % i for i in range(80)] + ["é你"]
    texts = []
    for i in range(250):
        if i % 29 == 0:
            texts.append(None)
            continue
        sep = "  " if i % 17 == 0 else " "
        texts.append(sep.join(rng.choices(vocab, k=rng.randint(0, 30))))
    for n in (2, 3):
        _check(texts, n)


# ---- fused (doc, gram)-row generator pin (r12, VERDICT r11 #5) ----

from shadems_spark.operators.text import _word_ngrams_flat, _xe_grams_flat


def _flat_vs_list(texts, n=3):
    """The fused generator's core must reproduce the ListArray form
    exactly: repeating doc i count[i] times over the flat values IS
    the explode of the per-doc arrays (nulls/empties -> zero rows)."""
    import numpy as np
    import pyarrow as pa

    arr = pa.array(texts, type=pa.string())
    for core, lst in (
        (_xe_grams_flat, _xe_grams_pa),
        (_word_ngrams_flat, _word_ngrams_pa),
    ):
        vals, counts, null_mask = core(arr, n)
        if not isinstance(vals, pa.Array):
            vals = pa.array(vals, type=pa.int64())
        docs = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
        got = list(zip(docs.tolist(), vals.to_pylist()))
        want = []
        for i, cell in enumerate(lst(arr, n).to_pylist()):
            for v in cell or []:
                want.append((i, v))
        assert got == want, (core.__name__, n)
        assert list(null_mask) == [t is None for t in texts]


def test_gram_flat_cores_match_list_builders():
    _flat_vs_list(
        [None, "", " ", "one", "one two", "one two three",
         "a  b   c d", "x y z x y z", " lead and trail ", "café 你好 😀 e f"]
    )
    _flat_vs_list(["a b c d e"], n=1)
    _flat_vs_list(["a b c d e", None], n=4)
    _flat_vs_list([None, None])
    _flat_vs_list([])


def test_doc_grams_fused_matches_explode(spark):
    """Spark-level pin: doc_grams_fused row-multiset == the array
    builder + explode for both families, including empty/null docs."""
    from pyspark.sql import functions as F

    from shadems_spark.operators.text import (
        doc_grams_fused,
        word_ngrams_arrow,
        xe_gram_hashes_arrow,
    )

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a"), (4, "a b"), (5, "a b c"),
         (6, "x  y z w"), (7, "a b c d a b c")],
        "doc_id long, text string",
    )
    xe_ref = df.select(
        "doc_id", F.explode(xe_gram_hashes_arrow("text", 3)).alias("s")
    )
    xe_fused = doc_grams_fused(df, "doc_id", "text", 3, "xe")
    assert xe_fused.exceptAll(xe_ref).count() == 0
    assert xe_ref.exceptAll(xe_fused).count() == 0
    w_ref = df.select(
        "doc_id", F.explode_outer(word_ngrams_arrow("text", 3)).alias("ng")
    ).filter(F.col("ng").isNotNull())
    w_fused = doc_grams_fused(df, "doc_id", "text", 3, "word")
    assert w_fused.exceptAll(w_ref).count() == 0
    assert w_ref.exceptAll(w_fused).count() == 0
