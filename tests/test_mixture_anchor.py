"""Python-replayed anchor for the mixture plan → materialize pair.

The plan's quota math and the Poisson-rounded materialization share
their definition across both engines; this replays them end to end on
a tiny corpus: quota/epochs values, the floor(epochs) repeat count,
the deterministic Knuth-hash extra-repeat draw, and the invariant that
materialized repeats per doc equal the replayed count exactly."""

from __future__ import annotations


def test_mixture_plan_and_materialize_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.sampling import (
        MIX_TOKEN_BUDGET,
        MIX_WEIGHT_DENOM,
        mixture_epoch_plan,
        mixture_materialize,
    )

    # src0: 2 docs x 4 tokens; src1: 3 docs x 2 tokens.
    docs = [
        (1, "src0", "a b c d"),
        (2, "src0", "e f g h"),
        (3, "src1", "i j"),
        (4, "src1", "k l"),
        (5, "src1", "m n"),
    ]
    spark.createDataFrame(docs, "doc_id long, source string, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )

    tokens_by_src = {"src0": 8, "src1": 6}
    rank = {"src0": 1, "src1": 2}

    plan = {r["source"]: r for r in mixture_epoch_plan(spark, str(tmp_path)).collect()}
    targets = {}
    for src, toks in tokens_by_src.items():
        target = round(MIX_TOKEN_BUDGET * rank[src] / MIX_WEIGHT_DENOM)
        targets[src] = target
        p = plan[src]
        assert p["source_tokens"] == toks
        assert p["weight"] == round(rank[src] / MIX_WEIGHT_DENOM, 6)
        assert p["target_tokens"] == target
        assert p["epochs"] == round(target / toks, 6)

    def n_reps(doc_id: int, src: str) -> int:
        t, s = targets[src], tokens_by_src[src]
        base = t // s
        frac_ppm = (t % s) * 1_000_000 // s
        draw = ((doc_id % 1_000_000) * (2654435761 % 1_000_000)) % 1_000_000
        return base + (1 if draw < frac_ppm else 0)

    expect = {}
    for doc_id, src, _ in docs:
        r = n_reps(doc_id, src)
        if r > 0:
            expect[doc_id] = r

    got: dict[int, int] = {}
    for r in mixture_materialize(spark, str(tmp_path)).collect():
        got[r["doc_id"]] = got.get(r["doc_id"], 0) + 1
    assert got == expect
    # repeat_idx must be dense 0..n-1 per doc
    idx = {}
    for r in mixture_materialize(spark, str(tmp_path)).collect():
        idx.setdefault(r["doc_id"], set()).add(r["repeat_idx"])
    assert all(v == set(range(len(v))) for v in idx.values())
