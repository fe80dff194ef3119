"""Round-5 final batch — classical graph/survival/interval/information
analytics that were still missing from the surface:

- ``hits_hubs_authorities`` — Kleinberg's HITS ('99) on the bipartite
  1995 customer→part purchase graph: alternating hub/authority updates,
  two synchronous rounds, max-normalized to EXACT INTEGER MICROS each
  half-step (the Holt lesson: iterative contracts must carry no FP).
- ``kaplan_meier_retention`` — the Kaplan–Meier ('58) product-limit
  survival estimator over customer order-span lifetimes with explicit
  right-censoring, folded sequentially in integer micros.
- ``order_concurrency_peaks`` — sweep-line maximum-concurrent-intervals
  over order fulfillment windows ([orderdate, last shipdate]): the
  classic +1/−1 delta trick, aggregated to calendar days BEFORE the
  running sum so the ordered scan is over the bounded day frame.
- ``mutual_information_lang_source`` — mutual information (nats) and
  the two marginal entropies between document language and source —
  the dependence screen next to chi2_lang_source_independence (chi2
  answers "is there dependence", MI answers "how many bits").
- ``markov_stationary_events`` — stationary distribution of the
  first-order event-type Markov chain (event_transition_matrix's
  counts made row-stochastic in integer micros) by three unrolled
  power-iteration rounds with per-term integer flooring.

Scale shapes: HITS is two grouped sums + a broadcast max per
half-round on an edge list that shuffles once (the PageRank economics;
at extreme scale the int64 headroom documented inline moves to
decimal(38)); Kaplan–Meier and the sweep line aggregate the raw data
to a BOUNDED frame (distinct lifetime weeks / calendar days) and run
the sequential recurrence as one codegen'd ``aggregate`` fold — no
unpartitioned window ever touches row-scale data; MI and the
stationary chain operate on |langs×sources| and |types|² cells —
driver-size state over arbitrarily large inputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.pairs import pack_pair, unpack_pair
from ..sources.loaders import load_table
from .registry import register

HITS_ROUNDS = 2
HITS_TOPK = 10
KM_CENSOR_DAYS = 90
PEAK_TOPK = 10
MARKOV_ROUNDS = 3


def _idiv(num: Column, den: Column) -> Column:
    """Exact floor division on non-negative longs, safe past 2^53:
    ``num - num % den`` is an exact multiple of ``den`` in int64, so
    the double division that follows is exact whenever the QUOTIENT
    fits in 53 bits (every use here bounds it by 1e6·|keys|)."""
    return ((num - num % den) / den).cast("long")


# --- HITS ----------------------------------------------------------------


def _hits_oracle() -> str:
    ctes = [
        """ce AS (
            SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderdate >= DATE '1995-01-01'
              AND o.o_orderdate < DATE '1996-01-01'
        )""",
        "h0 AS (SELECT c, 1000000::BIGINT AS hm FROM (SELECT DISTINCT c FROM ce))",
    ]
    for t in range(HITS_ROUNDS):
        ctes.append(
            f"""a{t + 1}r AS (
                SELECT p, sum(hm)::BIGINT AS ar
                FROM ce JOIN h{t} USING (c) GROUP BY p
            )"""
        )
        ctes.append(f"a{t + 1}m AS (SELECT max(ar) AS m FROM a{t + 1}r)")
        ctes.append(
            f"""a{t + 1} AS (
                SELECT p, ((ar::HUGEINT * 1000000) // m)::BIGINT AS am
                FROM a{t + 1}r, a{t + 1}m
            )"""
        )
        ctes.append(
            f"""h{t + 1}r AS (
                SELECT c, sum(am)::BIGINT AS hr
                FROM ce JOIN a{t + 1} USING (p) GROUP BY c
            )"""
        )
        ctes.append(f"h{t + 1}m AS (SELECT max(hr) AS m FROM h{t + 1}r)")
        ctes.append(
            f"""h{t + 1} AS (
                SELECT c, ((hr::HUGEINT * 1000000) // m)::BIGINT AS hm
                FROM h{t + 1}r, h{t + 1}m
            )"""
        )
    last = HITS_ROUNDS
    return f"""
        WITH {", ".join(ctes)}
        SELECT * FROM (
            SELECT 'authority' AS role, p AS node_id, am AS score_micros
            FROM a{last} ORDER BY am DESC, p LIMIT {HITS_TOPK}
        )
        UNION ALL
        SELECT * FROM (
            SELECT 'hub' AS role, c AS node_id, hm AS score_micros
            FROM h{last} ORDER BY hm DESC, c LIMIT {HITS_TOPK}
        )
    """


@register(
    "hits_hubs_authorities",
    oracle=_hits_oracle(),
    doc=f"""HITS (Kleinberg '99) on the bipartite 1995 customer→part
    purchase graph: hubs are customers (they buy broadly-endorsed
    parts), authorities are parts (they are bought by strong hubs) —
    the mutual-reinforcement companion to pagerank_nation_trade, and
    on a dedup-candidate graph the standard way to separate template
    "hub" documents from the genuine centers they link.
    {HITS_ROUNDS} synchronous rounds, each half-step max-normalized to
    integer micros (``(raw·1e6) div max`` — no FP anywhere, the Holt
    lesson); top {HITS_TOPK} per role with id tiebreaks.  Scale shape:
    the edge list shuffles once per half-round for a grouped sum
    (partial-aggregated map-side), the max is a broadcast scalar;
    int64 headroom is raw ≤ 1e6·|customers| so micros·raw stays under
    2^63 up to ~9e6 customers per part — past that the same plan runs
    on decimal(38).""",
)
def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    ce = (
        li.join(
            orders.where(
                (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
            ).select("o_orderkey", "o_custkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = ce.select("c").distinct().withColumn(
        "hm", F.lit(1_000_000).cast("long")
    )
    auth = None
    # Round-10 session 2 (change-8 class, multiplicative variant): each
    # raw-score frame feeds BOTH its own max and the normalized scores,
    # and the rounds nest, so the lazy unrolled loop re-evaluated the
    # ce-join subtrees ~4^rounds times in the final action.  Pinning
    # araw/hraw per round makes each half-round exactly one join +
    # grouped sum over the edge checkpoint (the Pregel superstep shape
    # the doc promises).
    for _ in range(HITS_ROUNDS):
        araw = ce.join(hub, "c").groupBy("p").agg(
            F.sum("hm").cast("long").alias("ar")
        ).localCheckpoint(eager=True)
        amax = araw.agg(F.max("ar").alias("m"))
        auth = araw.crossJoin(F.broadcast(amax)).select(
            "p", _idiv(F.col("ar") * F.lit(1_000_000), F.col("m")).alias("am")
        )
        hraw = ce.join(auth, "p").groupBy("c").agg(
            F.sum("am").cast("long").alias("hr")
        ).localCheckpoint(eager=True)
        hmax = hraw.agg(F.max("hr").alias("m"))
        hub = hraw.crossJoin(F.broadcast(hmax)).select(
            "c", _idiv(F.col("hr") * F.lit(1_000_000), F.col("m")).alias("hm")
        )
    top_auth = (
        auth.orderBy(F.col("am").desc(), "p")
        .limit(HITS_TOPK)
        .select(
            F.lit("authority").alias("role"),
            F.col("p").alias("node_id"),
            F.col("am").alias("score_micros"),
        )
    )
    top_hub = (
        hub.orderBy(F.col("hm").desc(), "c")
        .limit(HITS_TOPK)
        .select(
            F.lit("hub").alias("role"),
            F.col("c").alias("node_id"),
            F.col("hm").alias("score_micros"),
        )
    )
    return top_auth.unionAll(top_hub)


# --- Kaplan–Meier --------------------------------------------------------


@register(
    "kaplan_meier_retention",
    oracle=f"""
        WITH RECURSIVE span AS (
            SELECT o_custkey,
                   min(o_orderdate)::DATE AS first_d,
                   max(o_orderdate)::DATE AS last_d
            FROM orders GROUP BY o_custkey
        ), cutoff AS (SELECT max(o_orderdate)::DATE AS cut FROM orders),
        per AS (
            SELECT (date_diff('day', first_d, last_d) // 7)::BIGINT AS dur,
                   CASE WHEN last_d < cut - INTERVAL {KM_CENSOR_DAYS} DAY
                        THEN 1 ELSE 0 END AS ev
            FROM span, cutoff
        ), grp AS (
            SELECT dur, count(*)::BIGINT AS c, sum(ev)::BIGINT AS d
            FROM per GROUP BY dur
        ), idx AS (
            SELECT dur, c, d, row_number() OVER (ORDER BY dur) AS i FROM grp
        ), tot AS (SELECT count(*)::BIGINT AS n FROM per),
        km(i, dur, n_risk, d, s, at_next) AS (
            SELECT i, dur, tot.n, d,
                   ((1000000 * (tot.n - d)) // tot.n)::BIGINT,
                   tot.n - c
            FROM idx, tot WHERE i = 1
            UNION ALL
            SELECT idx.i, idx.dur, km.at_next, idx.d,
                   ((km.s * (km.at_next - idx.d)) // km.at_next)::BIGINT,
                   km.at_next - idx.c
            FROM km JOIN idx ON idx.i = km.i + 1
        )
        SELECT dur AS duration_weeks, n_risk, d AS n_events,
               s AS surv_micros
        FROM km
    """,
    doc=f"""Kaplan–Meier ('58) product-limit survival estimator over
    customer lifetimes (weeks between first and last order), with
    explicit right-censoring: a customer whose last order falls within
    {KM_CENSOR_DAYS} days of the dataset horizon is CENSORED (still
    alive), not an event — the estimator the retention/churn family
    (cohort_weekly_retention, user_daily_streaks) needs to be
    statistically honest about the open end of the observation window.
    S(t) = Π (1 − d_i/n_i) folded in EXACT INTEGER MICROS
    (``(s·(n−d)) div n`` per step — the sequential-recurrence class,
    same contract discipline as holt_linear_daily).  Scale shape: the
    row-scale work is one groupBy(customer) span + one groupBy(week)
    count; the recurrence runs over the BOUNDED distinct-week frame
    (≤ date-range/7 rows) collected into a single codegen'd
    ``aggregate`` fold — never an unpartitioned window over row-scale
    data.  The oracle replays the fold as a recursive CTE.""",
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    span = orders.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("first_d"),
        F.max(F.to_date("o_orderdate")).alias("last_d"),
    )
    cutoff = orders.agg(F.max(F.to_date("o_orderdate")).alias("cut"))
    per = span.crossJoin(F.broadcast(cutoff)).select(
        F.floor(F.datediff("last_d", "first_d") / 7)
        .cast("long")
        .alias("dur"),
        F.when(
            F.col("last_d") < F.date_sub("cut", KM_CENSOR_DAYS), 1
        )
        .otherwise(0)
        .alias("ev"),
    )
    grp = per.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("ev").cast("long").alias("d"),
    )
    series = grp.agg(
        F.sort_array(F.collect_list(F.struct("dur", "c", "d"))).alias("xs"),
        F.sum("c").cast("long").alias("n"),
    )

    def step(acc, x):
        n_risk = acc["at"]
        s2 = _idiv(acc["s"] * (n_risk - x["d"]), n_risk)
        row = F.struct(
            x["dur"].alias("duration_weeks"),
            n_risk.alias("n_risk"),
            x["d"].alias("n_events"),
            s2.alias("surv_micros"),
        )
        return F.struct(
            (n_risk - x["c"]).alias("at"),
            s2.alias("s"),
            F.array_append(acc["out"], row).alias("out"),
        )

    folded = series.select(
        F.aggregate(
            F.col("xs"),
            F.struct(
                F.col("n").alias("at"),
                F.lit(1_000_000).cast("long").alias("s"),
                F.expr(
                    "CAST(array() AS ARRAY<STRUCT<duration_weeks: BIGINT,"
                    " n_risk: BIGINT, n_events: BIGINT, surv_micros: BIGINT>>)"
                ).alias("out"),
            ),
            step,
            lambda acc: acc["out"],
        ).alias("out")
    )
    return folded.select(F.explode("out").alias("r")).select("r.*")


# --- Sweep-line concurrency ---------------------------------------------


@register(
    "order_concurrency_peaks",
    oracle=f"""
        WITH iv AS (
            SELECT o.o_orderkey, o.o_orderdate::DATE AS s,
                   max(l.l_shipdate)::DATE AS e
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey, o.o_orderdate::DATE
        ), delta AS (
            SELECT s AS day, 1 AS dlt FROM iv
            UNION ALL
            SELECT (e + INTERVAL 1 DAY)::DATE, -1 FROM iv
        ), byday AS (
            SELECT day, sum(dlt)::BIGINT AS net FROM delta GROUP BY day
        ), run AS (
            SELECT day, sum(net) OVER (ORDER BY day)::BIGINT AS concurrent
            FROM byday
        )
        SELECT day, concurrent FROM run
        ORDER BY concurrent DESC, day LIMIT {PEAK_TOPK}
    """,
    doc=f"""Sweep-line maximum-concurrent-intervals over order
    fulfillment windows [o_orderdate, last l_shipdate]: the classic
    +1-at-start / −1-after-end delta encoding, the peak-load question
    ("how many orders were in flight at once, and when?") that a naive
    interval self-join answers in O(n²).  Top {PEAK_TOPK} peak days
    with day tiebreaks.  Scale shape: interval endpoints aggregate to
    per-day NET deltas first (one row-scale shuffle, map-side
    combined), so the running prefix sum scans the BOUNDED calendar
    frame (|distinct days|, ~2.4k for the TPC-H range) as one
    ``aggregate`` fold — the sweep itself never sees row-scale data
    and no unpartitioned window exists in the plan.  All-integer
    arithmetic; the oracle uses the equivalent ordered window over the
    same bounded frame.""",
)
def order_concurrency_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    # Pinned |orders|-row interval frame (change-8 waist): BOTH sides
    # of the +1/−1 delta union read it, and without the cut each
    # re-derived the full lineitem⋈orders join + per-order aggregate.
    iv = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", F.to_date("o_orderdate").alias("s"))
        .agg(F.max(F.to_date("l_shipdate")).alias("e"))
        .localCheckpoint(eager=True)
    )
    delta = iv.select(
        F.col("s").alias("day"), F.lit(1).alias("dlt")
    ).unionAll(
        iv.select(F.date_add("e", 1).alias("day"), F.lit(-1).alias("dlt"))
    )
    byday = delta.groupBy("day").agg(F.sum("dlt").cast("long").alias("net"))
    series = byday.agg(
        F.sort_array(F.collect_list(F.struct("day", "net"))).alias("xs")
    )

    def step(acc, x):
        run2 = (acc["run"] + x["net"]).alias("run")
        row = F.struct(
            x["day"].alias("day"), (acc["run"] + x["net"]).alias("concurrent")
        )
        return F.struct(run2, F.array_append(acc["out"], row).alias("out"))

    folded = series.select(
        F.aggregate(
            F.col("xs"),
            F.struct(
                F.lit(0).cast("long").alias("run"),
                F.expr(
                    "CAST(array() AS ARRAY<STRUCT<day: DATE, concurrent: BIGINT>>)"
                ).alias("out"),
            ),
            step,
            lambda acc: acc["out"],
        ).alias("out")
    )
    return (
        folded.select(F.explode("out").alias("r"))
        .select("r.*")
        .orderBy(F.col("concurrent").desc(), "day")
        .limit(PEAK_TOPK)
    )


# --- Mutual information --------------------------------------------------


@register(
    "mutual_information_lang_source",
    oracle="""
        WITH cell AS (
            SELECT lang, source, count(*)::DOUBLE AS c
            FROM documents GROUP BY lang, source
        ), ml AS (SELECT lang, sum(c) AS nx FROM cell GROUP BY lang),
        ms AS (SELECT source, sum(c) AS ny FROM cell GROUP BY source),
        tot AS (SELECT sum(c) AS n FROM cell)
        SELECT tot.n::BIGINT AS n_docs,
               round(sum((c / tot.n) * ln((c * tot.n) / (nx * ny))), 6)
                   AS mi_nats,
               round(-sum((c / tot.n) * ln(nx / tot.n)), 6) AS h_lang,
               round(-sum((c / tot.n) * ln(ny / tot.n)), 6) AS h_source
        FROM cell
        JOIN ml USING (lang) JOIN ms USING (source) CROSS JOIN tot
        GROUP BY tot.n
    """,
    doc="""Mutual information (nats) between document language and
    source, with both marginal entropies — the dependence STRENGTH
    companion to chi2_lang_source_independence (chi2 tests whether
    lang⊥source; MI says how much knowing the source tells you about
    the language, the quantity a corpus-mixing plan actually budgets).
    H entropies are computed cell-wise (−Σ p(x,y)·ln p(x) ≡
    −Σ p(x)·ln p(x)) so all three numbers share one |langs×sources|
    frame.  Scale shape: one grouped count over the corpus, then
    arithmetic on the bounded contingency table — identical economics
    to the chi2/KL family (domain_shift_kl's lockstep ln/round-6
    contract).""",
)
def mutual_information_lang_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    cell = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    ml = cell.groupBy("lang").agg(F.sum("c").alias("nx"))
    ms = cell.groupBy("source").agg(F.sum("c").alias("ny"))
    tot = cell.agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        cell.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.round(
                F.sum(p * F.log((F.col("c") * F.col("n")) / (F.col("nx") * F.col("ny")))),
                6,
            ).alias("mi_nats"),
            F.round(-F.sum(p * F.log(F.col("nx") / F.col("n"))), 6).alias(
                "h_lang"
            ),
            F.round(-F.sum(p * F.log(F.col("ny") / F.col("n"))), 6).alias(
                "h_source"
            ),
        )
        .select(
            F.col("n").cast("long").alias("n_docs"),
            "mi_nats",
            "h_lang",
            "h_source",
        )
    )


# --- Markov stationary distribution -------------------------------------


def _markov_oracle() -> str:
    ctes = [
        """seq AS (
            SELECT event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        )""",
        """tc AS (
            SELECT prev_type AS prev, event_type AS nxt,
                   count(*)::BIGINT AS c
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type
        )""",
        "rt AS (SELECT prev, sum(c)::BIGINT AS tot FROM tc GROUP BY prev)",
        """pm AS (
            SELECT prev, nxt, ((c * 1000000) // tot)::BIGINT AS p
            FROM tc JOIN rt USING (prev)
        )""",
        "st AS (SELECT DISTINCT event_type AS s FROM events)",
        "k AS (SELECT count(*)::BIGINT AS kk FROM st)",
        "v0 AS (SELECT s, (1000000 // kk)::BIGINT AS vm FROM st, k)",
    ]
    for t in range(MARKOV_ROUNDS):
        ctes.append(
            f"""w{t + 1} AS (
                SELECT pm.nxt AS s,
                       sum((v{t}.vm * pm.p) // 1000000)::BIGINT AS vm
                FROM v{t} JOIN pm ON pm.prev = v{t}.s GROUP BY pm.nxt
            )"""
        )
        ctes.append(
            f"""v{t + 1} AS (
                SELECT st.s, coalesce(w{t + 1}.vm, 0)::BIGINT AS vm
                FROM st LEFT JOIN w{t + 1} ON w{t + 1}.s = st.s
            )"""
        )
    return f"""
        WITH {", ".join(ctes)}
        SELECT s AS event_type, vm AS stationary_micros
        FROM v{MARKOV_ROUNDS}
    """


@register(
    "markov_stationary_events",
    oracle=_markov_oracle(),
    doc=f"""Stationary distribution of the first-order event-type
    Markov chain: event_transition_matrix's (prev→next) counts made
    row-stochastic in integer micros, then {MARKOV_ROUNDS} unrolled
    power-iteration rounds v·P from a uniform start — "where does user
    behavior settle", the steady-state companion to the transition
    counts and event_path_trigrams.  Every probability and every
    update term is floored integer micros (per-term flooring BEFORE
    the sum keeps the result independent of addition order — no FP in
    the contract; the ≤|types| floor losses per round are documented
    estimator bias, not noise).  Scale shape: the row-scale work is
    the one per-user lag shuffle that builds the counts; the chain
    itself is a |types|² table iterated entirely on broadcast-size
    frames — driver-size state over arbitrarily large event logs.""",
)
def markov_stationary_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    events = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    )
    tc = (
        seq.where(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("nxt"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    rt = tc.groupBy("prev").agg(F.sum("c").cast("long").alias("tot"))
    # Round-10 session 2 (change-8 class): the transition matrix and the
    # state list are loop invariants referenced by every unrolled round,
    # and each reference re-ran the per-user lag window + aggregates
    # over the full event log (before plan: 22 parquet scans).  Both are
    # |types|-bounded — pin them once; the iteration itself is broadcast
    # arithmetic over the checkpoints.
    pm = tc.join(rt, "prev").select(
        "prev", "nxt", _idiv(F.col("c") * F.lit(1_000_000), F.col("tot")).alias("p")
    ).localCheckpoint(eager=True)
    st = events.select(
        F.col("event_type").alias("s")
    ).distinct().localCheckpoint(eager=True)
    k = st.agg(F.count(F.lit(1)).cast("long").alias("kk"))
    v = st.crossJoin(F.broadcast(k)).select(
        "s", _idiv(F.lit(1_000_000), F.col("kk")).alias("vm")
    )
    for _ in range(MARKOV_ROUNDS):
        terms = v.join(F.broadcast(pm), v.s == pm.prev).select(
            F.col("nxt").alias("s2"),
            _idiv(F.col("vm") * F.col("p"), F.lit(1_000_000)).alias("term"),
        )
        sums = terms.groupBy("s2").agg(F.sum("term").cast("long").alias("vm2"))
        v = st.join(F.broadcast(sums), st.s == sums.s2, "left").select(
            "s", F.coalesce("vm2", F.lit(0)).cast("long").alias("vm")
        )
    return v.select(
        F.col("s").alias("event_type"), F.col("vm").alias("stationary_micros")
    )


# --- A-priori frequent triples ------------------------------------------

ASSOC3_MIN = 3
ASSOC3_TOPK = 20

# Customer-lifetime baskets (all parts a customer ever bought): the
# 1995 order baskets peak at pair support 2, so the k=3 level needs the
# wider basket definition to have any support->=3 structure to mine.
_CUST_LINES_CTE = """lines AS (
            SELECT DISTINCT o.o_custkey AS ok, l.l_partkey AS pk
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )"""


@register(
    "association_rules_triples",
    oracle=f"""
        WITH {_CUST_LINES_CTE}, n AS (
            SELECT count(DISTINCT ok)::BIGINT AS n_baskets FROM lines
        ), item AS (
            SELECT pk, count(*)::BIGINT AS c FROM lines GROUP BY pk
        ), f1 AS (
            SELECT pk FROM item WHERE c >= {ASSOC3_MIN}
        ), linesf AS (
            SELECT l.ok, l.pk FROM lines l JOIN f1 USING (pk)
        ), bp AS (
            SELECT a.ok, a.pk AS u, b.pk AS v
            FROM linesf a JOIN linesf b ON a.ok = b.ok AND a.pk < b.pk
        ), pc AS (
            SELECT u, v, count(*)::BIGINT AS c_ab FROM bp GROUP BY u, v
        ), f2 AS (
            SELECT u, v FROM pc WHERE c_ab >= {ASSOC3_MIN}
        ), cand AS (
            SELECT bp.ok, bp.u, bp.v FROM bp JOIN f2 USING (u, v)
        ), tri AS (
            SELECT cand.u AS pk_a, cand.v AS pk_b, l.pk AS pk_c,
                   count(*)::BIGINT AS c_abc
            FROM cand
            JOIN linesf l ON l.ok = cand.ok AND l.pk > cand.v
            JOIN f2 f23 ON f23.u = cand.v AND f23.v = l.pk
            JOIN f2 f13 ON f13.u = cand.u AND f13.v = l.pk
            GROUP BY cand.u, cand.v, l.pk
            HAVING count(*) >= {ASSOC3_MIN}
        ), top AS (
            SELECT * FROM tri
            ORDER BY c_abc DESC, pk_a, pk_b, pk_c LIMIT {ASSOC3_TOPK}
        )
        SELECT t.pk_a, t.pk_b, t.pk_c, t.c_abc,
               ((t.c_abc::HUGEINT * 1000000) // n.n_baskets)::BIGINT
                   AS support_micros,
               ((t.c_abc::HUGEINT * 1000000) // pc.c_ab)::BIGINT
                   AS confidence_micros,
               ((t.c_abc::HUGEINT * 1000000 * n.n_baskets)
                    // (pc.c_ab * item.c))::BIGINT AS lift_micros
        FROM top t
        JOIN pc ON pc.u = t.pk_a AND pc.v = t.pk_b
        JOIN item ON item.pk = t.pk_c
        CROSS JOIN n
    """,
    doc=f"""Apriori level-3 market-basket mining (Agrawal & Srikant
    '94) over customer-lifetime baskets: the top-{ASSOC3_TOPK}
    3-itemsets with support >= {ASSOC3_MIN}, plus support, confidence
    ((a,b) -> c) and lift in floor-integer micros.  The Spark path is
    the REAL Apriori economics: within-basket pairs are semi-joined
    against the frequent-pair set F2 BEFORE extending to a third item,
    and both closing sub-pairs (b,c), (a,c) must also be in F2 — the
    downward-closure prune is LOSSLESS for support >= {ASSOC3_MIN}
    (every frequent triple's sub-pairs are frequent), so the candidate
    triple enumeration touches a vanishing fraction of the naive
    |basket|^3 blow-up.  The oracle applies the identical (lossless)
    prune.  Scale shape: within-basket pairs are emitted by narrow
    generators over the ONE-exchange sorted basket arrays (no basket
    self-join anywhere); the L2 count shuffles one PACKED long per
    pair; F2 is a filtered aggregate that broadcasts; the L3 extension
    semi-joins the narrow pair stream and re-attaches the basket array
    to the few survivors only (broadcast on the basket key); and the
    {ASSOC3_TOPK}-row report frame broadcasts into the metric joins
    (the pairs-query pattern).""",
)
def association_rules_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    # ONE exchange builds the basket table (round-10 optimization,
    # guide §2.4): hash-partitioning by ok satisfies the (ok, pk)
    # dedup's clustering requirement (subset key), so repartition
    # FIRST and let dropDuplicates run exchange-free on top — the old
    # distinct-then-repartition shape paid a second full (ok, pk)
    # shuffle just to land on the ok layout the self-join needs.
    # Numberless repartition sizes from spark.sql.shuffle.partitions
    # (scale-adaptive) instead of a pinned 32.
    lines = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .repartition(F.col("ok"))
        .dropDuplicates(["ok", "pk"])
        .localCheckpoint(eager=True)
    )
    n = lines.select("ok").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_baskets")
    )
    item = lines.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # L1 projection (standard Apriori, lossless by downward closure): a
    # triple with support >= ASSOC3_MIN can only contain items whose own
    # basket count is >= ASSOC3_MIN, so infrequent items drop out BEFORE
    # any within-basket pair join.  This is also the whale-basket guard:
    # the pair frame is Σ|frequent items in basket|², not Σ|basket|² —
    # a 1e5-part one-off basket contributes pairs only over its items
    # that are frequent CORPUS-wide.  (A lossy per-basket width cap on
    # top of this would change mined supports, so it stays out; at real
    # 100 TB retail shape, raise ASSOC3_MIN with the data like any
    # min-support knob and the projection does the capping.)
    # f1 pins as a tiny checkpoint so each downstream action broadcasts
    # it without re-running the item aggregate; the L1 semi-join itself
    # is a broadcast probe that PRESERVES the checkpoint's ok
    # partitioning, so lines_f needs neither its own repartition nor a
    # second 600k-row materialization (round-10: the old second
    # checkpoint cost a full extra pass for layout the semi-join never
    # destroyed).
    f1 = (
        item.where(F.col("c") >= ASSOC3_MIN)
        .select("pk")
        .localCheckpoint(eager=True)
    )
    lines_f = lines.join(F.broadcast(f1), "pk", "left_semi")
    # L2 pair generation without the ok self-join (round-10, guide
    # §2.4): collect each basket's frequent items into ONE sorted array
    # (one exchange — the basket rows are already distinct, so
    # collect_list suffices) and emit the u < v pairs with chained
    # generators, a narrow codegen'd pipeline; the old self-join
    # re-exchanged both checkpoint sides (AQE checkpoints forget their
    # partitioning and no ReusedExchange fires).  The map-side partial
    # aggregation on (u, v) stays: at sf0.1 it dedups almost nothing
    # (13.1M pairs → 12.7M distinct) but at real retail scale pair
    # counts repeat heavily and the partial pass is what keeps the
    # shuffle bounded.
    # The basket-array frame feeds BOTH the L2 counting pass and the
    # L3 candidate extension (round-10: the extension used to re-join
    # basket LINES on ok — the dominant shuffle of the whole query);
    # checkpointing it (|baskets| rows) makes each pass a scan.
    fb = lines_f.groupBy("ok").agg(
        F.sort_array(F.collect_list("pk")).alias("ps")
    ).localCheckpoint(eager=True)
    # The within-basket u < v pairs, NARROW (ok + the pair packed into
    # one long by pack_pair — partkeys fit in 31 bits at any TPC-H scale
    # factor, and a larger one fails the job).  One
    # generate feeds both the L2 count (pruned to just the packed key —
    # the 13M-row shuffle carries ONE long per pair instead of two) and
    # the candidate filter (pruned to ok + key).  Round-10 session 2:
    # the previous shape re-emitted every pair CARRYING the basket
    # array (ps copied onto 13M rows) just so the few f2 survivors kept
    # their tail; profiling showed that array traffic + the 2-long
    # shuffle were the two dominant stages of the whole query.
    bp = (
        fb.select("ok", "ps", F.posexplode("ps").alias("i", "u"))
        .select(
            "ok",
            "u",
            F.explode(F.expr("slice(ps, i + 2, size(ps) - i - 1)")).alias("v"),
        )
        .select("ok", pack_pair("u", "v").alias("uv"))
    )
    pc = bp.groupBy("uv").agg(
        F.count(F.lit(1)).cast("long").alias("c_ab")
    )
    f2 = (
        pc.where(F.col("c_ab") >= ASSOC3_MIN)
        .select("uv")
        .localCheckpoint(eager=True)
    )
    # L3 extension: the frequent-pair semi-join survives only
    # |f2| × c_ab occurrence rows (thousands, not millions), so the
    # basket array is re-attached to the SURVIVORS ONLY — broadcast the
    # survivor frame against the checkpointed baskets on ok, recover
    # v's position with array_position (ps is sorted DISTINCT, so the
    # first occurrence is the only one), and explode the tail past v as
    # the third item: every element after position(v) is exactly
    # {w ∈ basket : w > v} (guide §8 — decide with small rows, move the
    # heavy arrays once).  Both closing sub-pairs then semi-join f2 as
    # before.
    u, v = unpack_pair("uv")
    cand = bp.join(F.broadcast(f2), "uv", "left_semi").select(
        "ok", u.alias("u"), v.alias("v")
    )
    ext = (
        fb.join(F.broadcast(cand), "ok")
        .select("u", "v", "ps", F.expr("array_position(ps, v)").alias("p"))
        .select(
            "u",
            "v",
            F.explode(
                F.expr("slice(ps, p + 1, size(ps) - p)")
            ).alias("w"),
        )
    )
    ext = ext.join(
        F.broadcast(f2.select(F.col("uv").alias("uv_vw"))),
        pack_pair("v", "w") == F.col("uv_vw"),
        "left_semi",
    ).join(
        F.broadcast(f2.select(F.col("uv").alias("uv_uw"))),
        pack_pair("u", "w") == F.col("uv_uw"),
        "left_semi",
    )
    tri = (
        ext.groupBy(
            F.col("u").alias("pk_a"),
            F.col("v").alias("pk_b"),
            F.col("w").alias("pk_c"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c_abc"))
        .where(F.col("c_abc") >= ASSOC3_MIN)
    )
    top = tri.orderBy(
        F.desc("c_abc"), "pk_a", "pk_b", "pk_c"
    ).limit(ASSOC3_TOPK).localCheckpoint(eager=True)
    # Confidence needs c_ab for the {TOPK} report pairs only — re-count
    # those from the basket lines under a broadcast of the report frame
    # instead of evaluating the full L2 pair aggregate a second time
    # (two broadcast-hash probes over lines vs another |basket|²
    # self-join; the L2 pass already ran once to produce f2).
    tp = top.select("pk_a", "pk_b").distinct()
    cab = (
        lines_f.join(F.broadcast(tp), lines_f.pk == tp.pk_a)
        .select("ok", "pk_a", "pk_b")
        .join(
            lines_f.select("ok", F.col("pk").alias("pk_b")),
            ["ok", "pk_b"],
            "left_semi",
        )
        .groupBy("pk_a", "pk_b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    m = F.lit(1_000_000)
    return (
        F.broadcast(top)
        .join(F.broadcast(cab), ["pk_a", "pk_b"])
        .join(item.select(F.col("pk").alias("pk_c"), "c"), "pk_c")
        .crossJoin(F.broadcast(n))
        .select(
            "pk_a",
            "pk_b",
            "pk_c",
            "c_abc",
            _idiv(F.col("c_abc") * m, F.col("n_baskets")).alias(
                "support_micros"
            ),
            _idiv(F.col("c_abc") * m, F.col("c_ab")).alias(
                "confidence_micros"
            ),
            _idiv(
                F.col("c_abc") * m * F.col("n_baskets"),
                F.col("c_ab") * F.col("c"),
            ).alias("lift_micros"),
        )
    )


# --- Weighted SSSP (Bellman–Ford, bounded rounds) -----------------------

SSSP_ROUNDS = 4
SSSP_TOPK = 50


def _sssp_oracle() -> str:
    from .pipeline_queries5 import _COPURCHASE_LINES_CTE

    ctes = [
        _COPURCHASE_LINES_CTE,
        """pw AS (
            SELECT a.pk AS u, b.pk AS v, count(*)::BIGINT AS c
            FROM lines a JOIN lines b ON a.ok = b.ok AND a.pk < b.pk
            GROUP BY a.pk, b.pk
        )""",
        """e AS (
            SELECT u AS src, v AS dst, 1 + (1000000 // c) AS w FROM pw
            UNION ALL
            SELECT v, u, 1 + (1000000 // c) FROM pw
        )""",
        "deg AS (SELECT src, count(*)::BIGINT AS d FROM e GROUP BY src)",
        "hub AS (SELECT src AS h FROM deg ORDER BY d DESC, src LIMIT 1)",
        "d0 AS (SELECT h AS v, 0::BIGINT AS dist FROM hub)",
    ]
    for t in range(SSSP_ROUNDS):
        ctes.append(
            f"""d{t + 1} AS (
                SELECT v, min(dist)::BIGINT AS dist FROM (
                    SELECT v, dist FROM d{t}
                    UNION ALL
                    SELECT e.dst AS v, d{t}.dist + e.w
                    FROM d{t} JOIN e ON e.src = d{t}.v
                ) GROUP BY v
            )"""
        )
    return f"""
        WITH {", ".join(ctes)}
        SELECT v AS vertex, dist AS dist_micros
        FROM d{SSSP_ROUNDS} ORDER BY dist, v LIMIT {SSSP_TOPK}
    """


@register(
    "sssp_weighted_copurchase",
    oracle=_sssp_oracle(),
    doc=f"""Weighted single-source shortest paths by {SSSP_ROUNDS}
    synchronous Bellman–Ford relaxation rounds on the 1995 co-purchase
    graph, edge length = 1 + (1e6 div co-purchase-count) — strong
    co-purchase affinity is a short hop, so distance is a
    multi-hop-affinity read the unweighted BFS can't give (the
    {SSSP_TOPK} nearest parts to the hub, with hop-count x affinity
    trade-offs resolved by actual path length).  All-integer weights
    and distances; fixed round count makes the oracle an exactly
    unrolled CTE chain (the k-core/PPR convention — no
    convergence-dependent nondeterminism).  Scale shape: each round is
    frontier-set join adjacency (src-keyed equi-join) + a grouped min
    partial-aggregated map-side, eagerly localCheckpoint-ed so lineage
    stays one round deep; the 1-row hub argmax is the only driver
    scalar and the report is TakeOrdered.""",
)
def sssp_weighted_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline_queries5 import _basket_pairs, _copurchase_baskets

    # Basket-array pair counts (round-10, guide §2.4): the generator
    # pipeline replaces the ok self-join and its two post-checkpoint
    # exchanges; identical (u, v, c) weights by construction.
    baskets = _copurchase_baskets(spark, sf_dir)
    pw = (
        _basket_pairs(baskets)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wexpr = (F.lit(1) + _idiv(F.lit(1_000_000), F.col("c"))).alias("w")
    e = (
        pw.select(F.col("u").alias("src"), F.col("v").alias("dst"), wexpr)
        .unionAll(
            pw.select(F.col("v").alias("src"), F.col("u").alias("dst"), wexpr)
        )
        .localCheckpoint(eager=True)
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    hub = deg.orderBy(F.desc("d"), F.asc("src")).limit(1).collect()[0]["src"]
    d = (
        e.select(F.col("src").alias("v"))
        .where(F.col("v") == hub)
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    for _ in range(SSSP_ROUNDS):
        relaxed = d.join(e, d.v == e.src).select(
            F.col("dst").alias("v"), (F.col("dist") + F.col("w")).alias("dist")
        )
        d = (
            d.unionByName(relaxed)
            .groupBy("v")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return (
        d.orderBy(F.asc("dist"), F.asc("v"))
        .limit(SSSP_TOPK)
        .select(F.col("v").alias("vertex"), F.col("dist").alias("dist_micros"))
    )


# --- Grid-density clustering (DBSCAN-style) -----------------------------

GRID_INV_H = 25  # cell width 0.04 on the first two embedding dims
GRID_MINPTS = 4
GRID_OFF = 32  # normalized vectors: |coord| <= 1 so |cell| < OFF
GRID_STRIDE = 64


def _grid_oracle() -> str:
    return f"""
        WITH RECURSIVE pts AS (
            SELECT vec_id,
                   floor(CAST(embedding[1] AS DOUBLE) * {GRID_INV_H})::BIGINT AS cx,
                   floor(CAST(embedding[2] AS DOUBLE) * {GRID_INV_H})::BIGINT AS cy
            FROM embeddings
        ), cells AS (
            SELECT cx, cy, count(*)::BIGINT AS npts FROM pts GROUP BY cx, cy
        ), core AS (
            SELECT cx, cy, npts,
                   (cx + {GRID_OFF}) * {GRID_STRIDE} + (cy + {GRID_OFF}) AS cid
            FROM cells WHERE npts >= {GRID_MINPTS}
        ), adj AS (
            SELECT a.cid AS x, b.cid AS y
            FROM core a JOIN core b
              ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
        ), reach(cid, lbl) AS (
            SELECT cid, cid FROM core
            UNION
            SELECT adj.x, reach.lbl FROM reach JOIN adj ON adj.y = reach.cid
        ), lab AS (
            SELECT cid, min(lbl) AS lbl FROM reach GROUP BY cid
        )
        SELECT lab.lbl AS cluster_id, count(*)::BIGINT AS n_cells,
               sum(core.npts)::BIGINT AS n_points
        FROM lab JOIN core ON core.cid = lab.cid
        GROUP BY lab.lbl
        UNION ALL
        SELECT -1, count(*)::BIGINT, coalesce(sum(npts), 0)::BIGINT
        FROM cells WHERE npts < {GRID_MINPTS}
    """


@register(
    "grid_density_clusters",
    oracle=_grid_oracle(),
    doc=f"""Grid-density clustering (the STING/GriDBSCAN family — Wang
    et al. \'97 grid statistics under DBSCAN \'96 density semantics) on
    the first two embedding dimensions: points land in 1/{GRID_INV_H}-
    wide cells, cells with >= {GRID_MINPTS} points are CORE, 8-adjacent
    core cells merge into clusters (cluster_id = min cell id in the
    CONNECTED COMPONENT — converged, so the contract is
    algorithm-independent), and sparse-cell points report as the noise
    row (cluster_id = -1).  Density clustering without any pairwise
    distance join: the Spark side builds cell adjacency by EXPLODING
    each core cell to its 9 neighbor coordinates and equi-joining back
    on the cell key — no theta join anywhere (the oracle\'s |core|²
    abs()-join + recursive min-label closure is the bounded replay,
    not the plan) — then merges components by driver union-find over the
    GRID-BOUNDED cell frame (<= (2*OFF)^2 = 4096 cells by construction
    — the engine\'s bounded-collect class; an unbounded key space would
    swap in the alternating-star ``connected_components``).
    All-integer cell ids ((cx+{GRID_OFF})·{GRID_STRIDE}+cy+{GRID_OFF} —
    normalized vectors keep |coord| < 1 so the encoding is
    collision-free); the only FP step is the floor to cells, identical
    double math in both engines.  Scale shape: one grouped count per
    cell (map-side combined), components over the |core cells| frame —
    the iterate is grid-bounded, not data-bounded.""",
)
def grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    pts = emb.select(
        F.floor(
            F.element_at("embedding", 1).cast("double") * GRID_INV_H
        )
        .cast("long")
        .alias("cx"),
        F.floor(
            F.element_at("embedding", 2).cast("double") * GRID_INV_H
        )
        .cast("long")
        .alias("cy"),
    )
    cells = pts.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).cast("long").alias("npts")
    )
    core = (
        cells.where(F.col("npts") >= GRID_MINPTS)
        .withColumn(
            "cid",
            (F.col("cx") + GRID_OFF) * GRID_STRIDE + F.col("cy") + GRID_OFF,
        )
        .localCheckpoint(eager=True)
    )
    offsets = F.expr(
        "array("
        + ", ".join(
            f"struct({dx} AS dx, {dy} AS dy)"
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        )
        + ")"
    )
    probes = core.select(
        F.col("cid").alias("y"), F.explode(offsets).alias("o"), "cx", "cy"
    ).select(
        (F.col("cx") + F.col("o.dx")).alias("cx"),
        (F.col("cy") + F.col("o.dy")).alias("cy"),
        "y",
    )
    adj = probes.join(
        core.select("cx", "cy", F.col("cid").alias("x")), ["cx", "cy"]
    ).select("x", "y")
    # The merge runs on the driver over the GRID-BOUNDED cell frame:
    # |cells| <= (2*GRID_OFF)^2 = 4096 by construction regardless of
    # data volume, so this collect is in the engine's bounded-summary
    # class (|buckets| rows, k centroids) — union-find over <= 4096
    # vertices beats 4-6 alternating-star shuffle rounds (measured
    # 12 s -> instant at sf0.1).  On an UNBOUNDED key space swap in
    # operators/dedup.py:connected_components, same contract.
    edge_rows = adj.where(F.col("x") < F.col("y")).distinct().collect()
    cid_rows = [r["cid"] for r in core.select("cid").collect()]
    parent = {c: c for c in cid_rows}

    def _find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for r in edge_rows:
        ra, rb = _find(r["x"]), _find(r["y"])
        if ra != rb:
            parent[ra] = rb
    comp_min: dict[int, int] = {}
    for c in cid_rows:
        root = _find(c)
        comp_min[root] = min(comp_min.get(root, c), c)
    mapping = spark.createDataFrame(
        [(c, comp_min[_find(c)]) for c in cid_rows],
        "cid long, cluster_id long",
    )
    clusters = (
        core.select("cid", "npts")
        .join(F.broadcast(mapping), "cid")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("npts").cast("long").alias("n_points"),
        )
    )
    noise = cells.where(F.col("npts") < GRID_MINPTS).agg(
        F.lit(-1).cast("long").alias("cluster_id"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.coalesce(F.sum("npts"), F.lit(0)).cast("long").alias("n_points"),
    )
    return clusters.unionByName(noise)
