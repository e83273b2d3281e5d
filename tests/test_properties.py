"""Property-based differential tests (hypothesis): random tiny corpora
through the Spark as-of strategies must equal the pandas oracle, for any
combination of ties, duplicates, empty sides, and boundary timestamps."""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from featherstore_spark.operators.asof import STRATEGIES, asof_join
from featherstore_spark.oracle import asof_join_pd

BASE = datetime(2026, 1, 1)

# timestamps on a coarse grid to force plenty of exact ties and
# boundary-equality cases
ts_strategy = st.integers(min_value=0, max_value=20).map(
    lambda m: BASE + timedelta(minutes=5 * m)
)
entity_strategy = st.sampled_from(["a", "b", "c"])

feature_rows = st.lists(
    st.tuples(entity_strategy, ts_strategy, st.integers(0, 50), st.floats(-100, 100, allow_nan=False)),
    min_size=0, max_size=25,
)
spine_rows = st.lists(st.tuples(entity_strategy, ts_strategy), min_size=1, max_size=15)


@pytest.fixture(scope="module")
def sparkref(spark):
    return spark


@settings(
    max_examples=12,  # each example runs 2 Spark jobs; keep CI-sized
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(feats=feature_rows, spine=spine_rows, strategy=st.sampled_from(STRATEGIES))
def test_asof_equals_oracle_on_random_inputs(sparkref, feats, spine, strategy):
    spark = sparkref
    fdf = spark.createDataFrame(
        feats, "conv_id string, ts timestamp, turn_idx int, v double"
    ) if feats else spark.createDataFrame([], "conv_id string, ts timestamp, turn_idx int, v double")
    sdf = spark.createDataFrame(spine, "conv_id string, ts timestamp")

    got = (
        asof_join(sdf, fdf, tiebreaks=("turn_idx",), strategy=strategy, bucket="1 hour")
        .toPandas()
        .sort_values(["conv_id", "ts", "f_ts", "f_turn_idx"], na_position="first", kind="mergesort")
        .reset_index(drop=True)
    )
    exp = (
        asof_join_pd(
            pd.DataFrame(spine, columns=["conv_id", "ts"]),
            pd.DataFrame(feats, columns=["conv_id", "ts", "turn_idx", "v"])
            if feats else pd.DataFrame(columns=["conv_id", "ts", "turn_idx", "v"]),
            tiebreaks=("turn_idx",),
        )
        .sort_values(["conv_id", "ts", "f_ts", "f_turn_idx"], na_position="first", kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert (got["conv_id"] == exp["conv_id"]).all()
    got_v = got["f_v"].astype("float64")
    exp_v = exp["f_v"].astype("float64")
    pd.testing.assert_series_equal(got_v, exp_v, check_names=False, atol=1e-12)
    got_tb = got["f_turn_idx"].astype("float64")
    exp_tb = exp["f_turn_idx"].astype("float64")
    pd.testing.assert_series_equal(got_tb, exp_tb, check_names=False)


# -- winnowing: both engine paths vs the pure-python reference on -------
# -- arbitrary unicode text (whitespace zoo, combining marks, emoji) ----

_winnow_text = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    max_size=60,
)


@settings(max_examples=150, deadline=None)
@given(s=_winnow_text)
def test_winnow_numpy_kernel_matches_pure_python(s):
    """The numpy sliding-min kernel (scale path) equals the pure-hashlib
    reference for ANY input text — incl. the normalization edge zoo.
    Driver-side only (no Spark per example), so hundreds of examples are
    cheap; the Spark-side equivalence of the full column paths is pinned
    by test_text_dedup.py."""
    import hashlib
    import re

    from featherstore_spark.functions.text import _winnow_doc_numpy

    k, w = 8, 4
    # the JVM normalization twin: ASCII \s+ collapse, strip 0x20, lower
    norm = re.sub(r"\s+", " ", s, flags=re.ASCII).strip(" ").lower()
    got = list(_winnow_doc_numpy(norm, k, w))
    if not norm:
        assert got == []
        return
    n = max(len(norm) - (k - 1), 1)
    hs = [int(hashlib.md5(norm[i:i + k].encode()).hexdigest()[:15], 16) for i in range(n)]
    m = max(n - (w - 1), 1)
    assert got == sorted({min(hs[j:j + w]) for j in range(m)})


@settings(max_examples=200, deadline=None)
@given(data=st.binary(max_size=200))
def test_pnm_parser_total_on_arbitrary_bytes(data):
    """parse_pnm_header never raises on arbitrary bytes — corrupt
    payloads must become NULL metadata, not task failures."""
    from featherstore_spark.functions.multimodal import parse_pnm_header

    out = parse_pnm_header(data)
    assert out is None or (
        len(out) == 3 and out[0] > 0 and out[1] > 0 and out[2] in (1, 3)
    )


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(1, 12), h=st.integers(1, 12),
    maxval=st.sampled_from([1, 255, 256, 65535]),
    comment=st.booleans(), magic=st.sampled_from([b"P5", b"P6"]),
)
def test_pnm_parser_roundtrips_valid_images(w, h, maxval, comment, magic):
    """Every syntactically valid binary PNM parses to its true
    dimensions; off-by-one payload truncation is rejected."""
    from featherstore_spark.functions.multimodal import parse_pnm_header

    ch = 3 if magic == b"P6" else 1
    bps = 2 if maxval > 255 else 1
    header = magic + b"\n" + (b"# c\n" if comment else b"") + f"{w} {h} {maxval}\n".encode()
    body = bytes((i * 7) % 256 for i in range(w * h * ch * bps))
    assert parse_pnm_header(header + body) == (w, h, ch)
    assert parse_pnm_header(header + body[:-1]) is None
    assert parse_pnm_header(header + body + b"\x00") is None


@settings(max_examples=200, deadline=None)
@given(data=st.binary(max_size=200))
def test_wav_parser_total_on_arbitrary_bytes(data):
    """parse_wav_header never raises on arbitrary bytes."""
    from featherstore_spark.functions.multimodal import parse_wav_header

    out = parse_wav_header(data)
    assert out is None or (len(out) == 3 and all(v > 0 for v in out))


@settings(max_examples=200, deadline=None)
@given(data=st.binary(max_size=200))
def test_image_header_parsers_total_on_arbitrary_bytes(data):
    """parse_png/bmp/gif_header (and the magic dispatcher) never raise on
    arbitrary bytes — corrupt payloads become NULL metadata, not task
    failures; any parse that succeeds reports positive dims."""
    from featherstore_spark.functions.multimodal import (
        parse_bmp_header,
        parse_gif_header,
        parse_image_header,
        parse_jpeg_header,
        parse_png_header,
    )

    for parser in (parse_png_header, parse_bmp_header, parse_gif_header,
                   parse_jpeg_header, parse_image_header):
        out = parser(data)
        assert out is None or (
            len(out) == 3 and out[0] > 0 and out[1] > 0 and out[2] in (1, 2, 3, 4)
        )


@settings(max_examples=150, deadline=None)
@given(data=st.binary(max_size=300))
def test_content_decoders_total_on_arbitrary_bytes(data):
    """Full-content decoders (PNG/BMP/PNM pixels, WAV samples, and the
    magic dispatcher) never raise on arbitrary bytes."""
    from featherstore_spark.functions.multimodal import (
        decode_bmp_pixels,
        decode_gif_pixels,
        decode_jpeg_pixels,
        decode_media_content,
        decode_png_pixels,
        decode_pnm_pixels,
        decode_wav_samples,
    )

    for dec in (decode_png_pixels, decode_bmp_pixels, decode_gif_pixels,
                decode_jpeg_pixels, decode_pnm_pixels, decode_wav_samples):
        out = dec(data)
        assert out is None or out.size >= 0
    out = decode_media_content(data)
    assert out is None or out[0] in ("image", "audio")


@settings(max_examples=300, deadline=None)
@given(data=st.data())
def test_prefix_filter_lemma_admits_no_false_negatives(data):
    """The All-Pairs prefix lemma behind dedup.prefix_filter_candidates,
    fuzzed in pure python: for random gram-set corpora and thresholds,
    every pair with jaccard >= t shares an element of both docs'
    rarity-ordered prefixes of length |g| - ceil(t*|g|) + 1 and passes
    the min >= t*max length filter — the candidate join can never drop
    a qualifying pair."""
    import math

    n_docs = data.draw(st.integers(2, 8))
    t = data.draw(st.floats(0.05, 0.95))
    docs = [
        frozenset(data.draw(st.sets(st.integers(0, 30), min_size=1, max_size=12)))
        for _ in range(n_docs)
    ]
    freq = {}
    for g in docs:
        for x in g:
            freq[x] = freq.get(x, 0) + 1
    order = lambda x: (freq[x], x)  # noqa: E731 - global rarity order

    def prefix(g):
        plen = len(g) - math.ceil(t * len(g) - 1e-9) + 1
        return set(sorted(g, key=order)[:plen])

    for i in range(n_docs):
        for j in range(i + 1, n_docs):
            a, b = docs[i], docs[j]
            jac = len(a & b) / len(a | b)
            if jac >= t:
                assert prefix(a) & prefix(b), (
                    f"lemma violated: jac={jac} t={t} a={sorted(a)} b={sorted(b)}"
                )
                assert min(len(a), len(b)) >= t * max(len(a), len(b)) - 1e-9


def _repetition_ref(text, top_n=2, dup_n=3):
    """Pure-Python reference for functions.text.repetition_stats — the
    same trim/split semantics as the engine (trim strips 0x20 only;
    ASCII \\s+ split keeps leading/trailing empty tokens, like Spark's
    split(limit=-1) and DuckDB's string_split_regex)."""
    import collections
    import re

    text = text or ""
    lines = [l for l in text.split("\n") if l.strip(" ") != ""]
    lc = collections.Counter(lines)
    n_lines = sum(lc.values())
    dup_l = sum(c for c in lc.values() if c > 1)
    l_chars = sum(c * len(l) for l, c in lc.items())
    dup_l_chars = sum(c * len(l) for l, c in lc.items() if c > 1)
    trimmed = text.strip(" ")
    toks = (
        []
        if trimmed == ""
        else [t.lower() for t in re.split(r"\s+", trimmed, flags=re.ASCII)]
    )

    def counter(n):
        return collections.Counter(
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        )

    gt, gd = counter(top_n), counter(dup_n)
    top_chars = sum(c * len(g) for g, c in gt.items())
    top_cl = max(((c, c * len(g)) for g, c in gt.items() if c > 1), default=(0, 0))[1]
    dup_g_chars = sum(c * len(g) for g, c in gd.items() if c > 1)
    g_chars = sum(c * len(g) for g, c in gd.items())

    def frac(n, d):
        return round(n / d, 6) if d > 0 else 0.0

    r = {
        "n_lines": n_lines,
        "dup_line_frac": frac(dup_l, n_lines),
        "dup_line_char_frac": frac(dup_l_chars, l_chars),
        "top_ngram_char_frac": frac(top_cl, top_chars),
        "dup_ngram_char_frac": frac(dup_g_chars, g_chars),
    }
    r["repetition_ok"] = (
        r["dup_line_frac"] <= 0.30
        and r["dup_line_char_frac"] <= 0.20
        and r["top_ngram_char_frac"] <= 0.20
        and r["dup_ngram_char_frac"] <= 0.30
    )
    return r


def test_repetition_stats_equals_pure_python_reference(spark):
    """200 seeded adversarial docs (tabs, repeated lines/phrases, empty
    segments, punctuation runs) through ONE Spark job vs the reference —
    independent of the DuckDB twin, so a shared-SQL-semantics bug in the
    oracle cannot mask an engine bug."""
    import random

    from featherstore_spark.functions.text import repetition_stats

    rng = random.Random(20260817)
    words = ["buy", "now", "the", "cat", "sat", "on", "mat", "X!", '"q"', "{a}"]
    docs = []
    for i in range(200):
        n_lines = rng.randint(0, 6)
        lines = []
        for _ in range(n_lines):
            n_tok = rng.randint(0, 8)
            sep = rng.choice([" ", "  ", "\t", " \t "])
            line = sep.join(rng.choice(words) for _ in range(n_tok))
            if rng.random() < 0.3:
                line = " " + line + rng.choice(["", " ", "\t"])
            lines.append(line)
        if lines and rng.random() < 0.4:  # force duplicate lines
            lines.append(rng.choice(lines))
        docs.append((i, "\n".join(lines) if lines else rng.choice([None, ""])))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    for doc_id, text in docs:
        exp = {"doc_id": doc_id, **_repetition_ref(text)}
        assert got[doc_id] == exp, (doc_id, repr(text), got[doc_id], exp)
