"""Round-8 window anchors, batch 3: top-k ties, NULL-distinct, text
heuristics.

Completes the window campaign (batches 1-2 in
test_round8_window_anchors{,2}.py): the equality-to-max tie rule of
q15 (ALL tied suppliers, unlike a LIMIT 1), the q10/q3 top-k tiebreak
under equal revenue, q12's exhaustive high/low partition, q7's
direction-sensitive nation pairs, distinct counting where NULL is one
value for DISTINCT but invisible to count(), and plain-Python replays
of the three text heuristics (stopword lang-id at its > 0.05 boundary,
the 0.4/0.3/0.3 quality blend, and the BPE-ish regex token count).
"""

from __future__ import annotations

import re
from datetime import datetime

from scats_transis_kinesis_spark.operators.text import EN_STOPWORDS


def T(d):
    return datetime(2020, 1, d)


def _write(spark, tmp_path, name, rows, schema):
    spark.createDataFrame(rows, schema).write.parquet(f"{tmp_path}/{name}.parquet")


def _lineitem(spark, tmp_path, rows):
    """(orderkey, partkey, suppkey, linenumber, qty, price, discount, shipdate)"""
    _write(
        spark, tmp_path, "lineitem",
        [(ok, pk, sk, ln, q, pr, d, 0.0, rf, "O", sd)
         for ok, pk, sk, ln, q, pr, d, rf, sd in rows],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )


def test_q15_equality_to_max_keeps_all_tied_suppliers(spark, tmp_path):
    _write(spark, tmp_path, "supplier", [
        (1, "s1", 0, 0.0), (2, "s2", 0, 0.0), (3, "s3", 0, 0.0),
    ], "s_suppkey long, s_name string, s_nationkey int, s_acctbal double")
    # s1: 100*(1-0.5)=50; s2: 25+25=50 (tie via two lines); s3: 49.
    _lineitem(spark, tmp_path, [
        (1, 1, 1, 1, 1.0, 100.0, 0.5, "N", T(1)),
        (2, 1, 2, 1, 1.0, 25.0, 0.0, "N", T(1)),
        (3, 1, 2, 1, 1.0, 25.0, 0.0, "N", T(1)),
        (4, 1, 3, 1, 1.0, 49.0, 0.0, "N", T(1)),
    ])
    from scats_transis_kinesis_spark.plans.relational import (
        q15_top_supplier_by_revenue,
    )

    got = sorted(
        (r["s_suppkey"], r["total_revenue"])
        for r in q15_top_supplier_by_revenue(spark, str(tmp_path)).collect()
    )
    assert got == [(1, 50.0), (2, 50.0)]  # both maxima, s3 out


def test_q10_returnflag_filter_and_topk_tiebreak(spark, tmp_path):
    _write(spark, tmp_path, "customer", [
        (c, f"c{c}", 0, 0.0, "M") for c in (1, 2, 3)
    ], "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
       "c_mktsegment string")
    _write(spark, tmp_path, "nation", [(0, "N0", 0)],
           "n_nationkey int, n_name string, n_regionkey int")
    _write(spark, tmp_path, "orders", [
        (k, k, "F", 0.0, T(1), "x") for k in (1, 2, 3)
    ], "o_orderkey long, o_custkey long, o_orderstatus string, "
       "o_totalprice double, o_orderdate timestamp, o_orderpriority string")
    # cust1 and cust2 tie on returned revenue 50.0; cust3's revenue is
    # higher but NOT returned (flag 'N') — must not appear at all.
    _lineitem(spark, tmp_path, [
        (1, 1, 1, 1, 1.0, 50.0, 0.0, "R", T(1)),
        (2, 1, 1, 1, 1.0, 50.0, 0.0, "R", T(1)),
        (3, 1, 1, 1, 1.0, 999.0, 0.0, "N", T(1)),
    ])
    from scats_transis_kinesis_spark.plans.relational import q10_returned_revenue_top20

    got = [
        (r["c_custkey"], r["revenue"])
        for r in q10_returned_revenue_top20(spark, str(tmp_path)).collect()
    ]
    assert got == [(1, 50.0), (2, 50.0)]  # custkey ascending on the tie


def test_q12_high_low_partition_is_exhaustive(spark, tmp_path):
    _write(spark, tmp_path, "orders", [
        (1, 1, "F", 0.0, T(1), "1-URGENT"),
        (2, 1, "F", 0.0, T(1), "2-HIGH"),
        (3, 1, "F", 0.0, T(1), "3-MEDIUM"),
        (4, 1, "F", 0.0, T(1), "5-LOW"),
    ], "o_orderkey long, o_custkey long, o_orderstatus string, "
       "o_totalprice double, o_orderdate timestamp, o_orderpriority string")
    _lineitem(spark, tmp_path, [
        (1, 1, 1, 1, 1.0, 1.0, 0.0, "A", T(1)),
        (2, 1, 1, 1, 1.0, 1.0, 0.0, "A", T(1)),
        (3, 1, 1, 1, 1.0, 1.0, 0.0, "A", T(1)),
        (4, 1, 1, 1, 1.0, 1.0, 0.0, "R", T(1)),
        (4, 1, 1, 2, 1.0, 1.0, 0.0, "R", T(1)),  # 2 lines of one order
    ])
    from scats_transis_kinesis_spark.plans.relational import q12_priority_shipping

    got = {
        r["l_returnflag"]: (r["high_line_count"], r["low_line_count"])
        for r in q12_priority_shipping(spark, str(tmp_path)).collect()
    }
    # every joined line lands in exactly one bucket: high+low == lines
    assert got == {"A": (2, 1), "R": (0, 2)}


def test_q7_direction_sensitive_nation_pairs(spark, tmp_path):
    _write(spark, tmp_path, "nation", [(0, "N0", 0), (1, "N1", 0), (2, "N2", 0)],
           "n_nationkey int, n_name string, n_regionkey int")
    _write(spark, tmp_path, "supplier", [(1, "s1", 0, 0.0), (2, "s2", 1, 0.0)],
           "s_suppkey long, s_name string, s_nationkey int, s_acctbal double")
    _write(spark, tmp_path, "customer", [
        (1, "c1", 1, 0.0, "M"),   # cust N1 buys from supp N0: pair (N1, N0)
        (2, "c2", 0, 0.0, "M"),   # cust N0 buys from supp N1: pair (N0, N1)
        (3, "c3", 0, 0.0, "M"),   # cust N0 buys from supp N0: SAME, excluded
        (4, "c4", 2, 0.0, "M"),   # nation 2: outside the < 2 filter
    ], "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
       "c_mktsegment string")
    _write(spark, tmp_path, "orders", [
        (k, k, "F", 0.0, T(1), "x") for k in (1, 2, 3, 4)
    ], "o_orderkey long, o_custkey long, o_orderstatus string, "
       "o_totalprice double, o_orderdate timestamp, o_orderpriority string")
    _lineitem(spark, tmp_path, [
        (1, 1, 1, 1, 1.0, 10.0, 0.0, "N", T(1)),   # (N1 cust, N0 supp)
        (2, 1, 2, 1, 1.0, 20.0, 0.0, "N", T(1)),   # (N0 cust, N1 supp)
        (3, 1, 1, 1, 1.0, 40.0, 0.0, "N", T(1)),   # same nation: out
        (4, 1, 1, 1, 1.0, 80.0, 0.0, "N", T(1)),   # cust nation 2: out
    ])
    from scats_transis_kinesis_spark.plans.relational import q7_nation_trade_volume

    got = {
        (r["cust_nation"], r["supp_nation"]): r["volume"]
        for r in q7_nation_trade_volume(spark, str(tmp_path)).collect()
    }
    # both directions present as SEPARATE rows; same-nation trade absent
    assert got == {("N1", "N0"): 10.0, ("N0", "N1"): 20.0}


def test_distinct_ignores_null_in_count(spark, tmp_path):
    # count(DISTINCT col) does NOT count NULL; duplicate values collapse.
    _write(spark, tmp_path, "events", [
        (1, T(1), 1, "click", 0.0, ""),
        (2, T(1), 1, "click", 0.0, ""),
        (3, T(1), 2, "view", 0.0, ""),
        (4, T(1), None, "view", 0.0, ""),   # NULL user: not counted
        (5, T(1), 3, None, 0.0, ""),        # NULL type: not counted
    ], "event_id long, ts timestamp, user_id long, event_type string, "
       "value double, props string")
    from scats_transis_kinesis_spark.plans.relational import distinct_exact

    [row] = distinct_exact(spark, str(tmp_path)).collect()
    assert (row["n_users"], row["n_types"]) == (3, 2)


# --- text heuristics: plain-Python replays -------------------------------

_DOCS = {
    # exactly at the lang-id boundary: 1 stopword / 20 tokens = 0.05,
    # which is NOT > 0.05 -> 'und'
    1: "the " + " ".join(f"w{i}" for i in range(19)),
    # 2 stopwords / 20 -> 0.1 > 0.05 -> 'en'
    2: "the of " + " ".join(f"w{i}" for i in range(18)),
    # punctuation-heavy, no stopwords
    3: "hello!!! world??? 123...",
}


def _replay_text(text):
    toks = text.split(" ")
    n = len(toks)
    stop_r = sum(1 for t in toks if t in EN_STOPWORDS) / n
    low = text.lower()
    punct_r = sum(1 for ch in low if not re.match(r"[a-z0-9 ]", ch)) / len(text)
    quality = 0.4 * min(n / 100.0, 1.0) + 0.3 * stop_r + 0.3 * (1 - punct_r)
    bpe = len(re.findall(r"[a-z]+|[0-9]+|[^a-z0-9 ]", low))
    return {
        "n_tokens": n,
        "stop_ratio": round(stop_r, 6),
        "punct_ratio": round(punct_r, 6),
        "quality": round(quality, 6),
        "lang_guess": "en" if stop_r > 0.05 else "und",
        "n_bpe_tokens": bpe,
        "chars_per_token": round(len(text) / bpe, 6),
    }


def _write_docs(spark, tmp_path):
    _write(spark, tmp_path, "documents", [
        (d, t, "en", "web", len(t)) for d, t in _DOCS.items()
    ], "doc_id long, text string, lang string, source string, n_chars long")


def test_text_lang_id_boundary_is_strict(spark, tmp_path):
    _write_docs(spark, tmp_path)
    from scats_transis_kinesis_spark.plans.text import text_lang_id

    got = {
        r["doc_id"]: (r["en_stop_ratio"], r["lang_guess"])
        for r in text_lang_id(spark, str(tmp_path)).collect()
    }
    want = {
        d: (_replay_text(t)["stop_ratio"], _replay_text(t)["lang_guess"])
        for d, t in _DOCS.items()
    }
    assert got == want
    assert got[1][1] == "und"   # exactly 0.05: strict >, not >=
    assert got[2][1] == "en"


def test_text_quality_blend_replay(spark, tmp_path):
    _write_docs(spark, tmp_path)
    from scats_transis_kinesis_spark.plans.text import text_quality

    got = {
        r["doc_id"]: (r["n_tokens"], r["stop_ratio"], r["punct_ratio"], r["quality"])
        for r in text_quality(spark, str(tmp_path)).collect()
    }
    want = {
        d: tuple(_replay_text(t)[k] for k in
                 ("n_tokens", "stop_ratio", "punct_ratio", "quality"))
        for d, t in _DOCS.items()
    }
    assert got == want


def test_text_bpe_regex_token_count_replay(spark, tmp_path):
    _write_docs(spark, tmp_path)
    from scats_transis_kinesis_spark.plans.text import text_bpe_tokens

    got = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"], r["chars_per_token"])
        for r in text_bpe_tokens(spark, str(tmp_path)).collect()
    }
    want = {
        d: (len(t.split(" ")), _replay_text(t)["n_bpe_tokens"],
            _replay_text(t)["chars_per_token"])
        for d, t in _DOCS.items()
    }
    assert got == want
    # the punctuation doc: every '!'/'?'/'.' is its own BPE token while
    # whitespace sees only 3 tokens — 2 words + 1 number + 9 marks
    assert got[3][0] == 3 and got[3][1] == 2 + 1 + 9
