"""Round-10 additions: exact LCS contamination (k-ary shingle-size search)
pinned against a Python brute force, and its ladder-consistency contract.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from emdatapipelines_spark.llmdata.dedup import exact_lcs_contamination


def _brute_lcs(train_text: str, eval_texts: list[str]) -> int:
    """Exact longest common token run (>= 2, else 0) by enumeration."""

    def norm(s):
        return " ".join(s.lower().split()).split(" ")

    tt = norm(train_text)
    best = 0
    for ev in eval_texts:
        et = norm(ev)
        eset = {}
        for n in range(2, len(et) + 1):
            eset[n] = {" ".join(et[i : i + n]) for i in range(len(et) - n + 1)}
        for n in range(2, len(tt) + 1):
            grams = {" ".join(tt[i : i + n]) for i in range(len(tt) - n + 1)}
            if n in eset and grams & eset[n]:
                best = max(best, n)
    return best


def test_exact_lcs_matches_brute_force(spark):
    eval_texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
    ]
    train = [
        (1, "a b c quick brown fox jumps x y z"),        # run 4
        (2, "the quick brown fox jumps over the lazy dog"),  # full 9
        (3, "nothing shared here at all"),               # 0
        (4, "my box with five unrelated tail"),          # run 4
        (5, "dog the shared singles only lazy"),         # singles only -> 0
        (6, "five dozen liquor jugs pack my box with"),  # run 4 (wraps split)
    ]
    d_train = spark.createDataFrame(train, "doc_id long, text string")
    d_eval = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(eval_texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["lcs_tokens"]
        for r in exact_lcs_contamination(d_train, d_eval).collect()
    }
    want = {i: _brute_lcs(t, eval_texts) for i, t in train}
    assert got == want


def test_sam_kernel_matches_brute_force_randomized():
    """r15: the generalized suffix-automaton kernel behind
    exact_lcs_contamination, pinned against an O(n^2) brute force on 200
    random multi-doc corpora (small alphabet -> dense repeats, the
    clone-heavy worst case for SAM construction). Pure Python, no Spark."""
    import random

    from emdatapipelines_spark.llmdata.dedup import (
        _build_token_sam,
        _sam_longest_match,
    )

    rng = random.Random(1234)
    for trial in range(200):
        n_ev = rng.randint(1, 4)
        ev_seqs = [
            [rng.randrange(rng.choice([2, 3, 5])) for _ in range(rng.randint(0, 30))]
            for _ in range(n_ev)
        ]
        trans, link, length = _build_token_sam(ev_seqs)
        for _ in range(5):
            q = [rng.randrange(6) for _ in range(rng.randint(0, 25))]
            # brute force: longest contiguous slice of q inside any ev seq
            best = 0
            for n in range(len(q), 0, -1):
                found = False
                for i in range(len(q) - n + 1):
                    sub = q[i : i + n]
                    for s in ev_seqs:
                        for j in range(len(s) - n + 1):
                            if s[j : j + n] == sub:
                                found = True
                                break
                        if found:
                            break
                    if found:
                        break
                if found:
                    best = n
                    break
            got = _sam_longest_match(trans, link, length, q)
            assert got == best, (trial, ev_seqs, q, got, best)


def test_exact_lcs_fanout_invariance(spark):
    """The answer must not depend on the search fan-out (binary vs 8-ary)."""
    d = spark.createDataFrame(
        [(i, f"w{i} common phrase tokens here t{i} common phrase tokens") for i in range(30)],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "zz common phrase tokens here qq")], "doc_id long, text string"
    )
    a = exact_lcs_contamination(d, ev, fanout=2).orderBy("doc_id").collect()
    b = exact_lcs_contamination(d, ev, fanout=8).orderBy("doc_id").collect()
    assert a == b and all(r["lcs_tokens"] == 4 for r in a)


def test_exact_lcs_eval_collect_is_bounded(spark, monkeypatch):
    """The eval corpus is collected to the driver only up to MAX_EVAL_DOCS;
    one document more raises a typed error naming the operator and knob."""
    import pytest

    from emdatapipelines_spark.bounds import DriverCollectBoundError
    from emdatapipelines_spark.llmdata import dedup

    d = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100 + i, f"a b x{i}") for i in range(4)], "doc_id long, text string"
    )
    monkeypatch.setattr(dedup, "MAX_EVAL_DOCS", 4)
    assert exact_lcs_contamination(d, ev).first()["lcs_tokens"] == 2
    monkeypatch.setattr(dedup, "MAX_EVAL_DOCS", 3)
    with pytest.raises(DriverCollectBoundError, match=r"exact_lcs_contamination.*MAX_EVAL_DOCS.*3"):
        exact_lcs_contamination(d, ev)


def test_exact_lcs_is_upper_envelope_of_ladder(spark):
    """Contract vs dd_contamination_ladder on the fixture split: the exact
    value must be >= every hit rung and < the first missed rung."""
    import __spark_entry__ as entry

    SF = "/root/testdata/sf0.001"
    q = entry.queries()
    ladder = {
        r["doc_id"]: r
        for r in q["dd_contamination_ladder"](spark, SF).collect()
    }
    exact = {
        r["doc_id"]: r["lcs_tokens"]
        for r in q["dd_contamination_exact"](spark, SF).collect()
    }
    assert set(ladder) == set(exact)
    for doc_id, lr in ladder.items():
        e = exact[doc_id]
        for rung, hit in ((4, lr["hit4"]), (8, lr["hit8"]), (16, lr["hit16"])):
            if hit:
                assert e >= rung, (doc_id, rung, e)
            else:
                assert e < rung, (doc_id, rung, e)


def test_streaming_cooccurrence_graph_matches_batch(spark, tmp_path):
    """Stretch #8: three microbatches of lineitem rows drain through the
    incremental membership/pair-count state; the final edge list must be
    byte-identical to the batch cooccurrence_edges over the union — even
    when a group's members arrive split across batches."""
    from emdatapipelines_spark.operators.graph import cooccurrence_edges
    from emdatapipelines_spark.streaming.incremental import (
        apply_cooccurrence_graph_batch,
    )

    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select("l_orderkey", "l_suppkey")
        .filter(F.col("l_orderkey") < 3000)  # deterministic subset (limit() may re-evaluate differently per consumer)
    )
    # split so many orders straddle batch boundaries (row-hash thirds, not
    # order-aligned)
    parts = [li.filter(F.abs(F.xxhash64("l_suppkey", "l_orderkey")) % 3 == i) for i in range(3)]
    state = str(tmp_path / "graph_state")

    last = None
    for i, p in enumerate(parts):
        last = apply_cooccurrence_graph_batch(
            p, i, state, "l_orderkey", "l_suppkey", min_shared=2
        )
    want = cooccurrence_edges(li, "l_orderkey", "l_suppkey", min_shared=2)
    assert last.exceptAll(want).count() == 0 and want.exceptAll(last).count() == 0
    assert last.count() == want.count() and want.count() > 0


def test_streaming_cooccurrence_graph_replay_is_noop(spark, tmp_path):
    from emdatapipelines_spark.operators.graph import cooccurrence_edges
    from emdatapipelines_spark.streaming.incremental import (
        apply_cooccurrence_graph_batch,
    )

    rows = [(1, 10), (1, 11), (2, 10), (2, 11), (3, 99)]
    df = spark.createDataFrame(rows, "g long, v long")
    state = str(tmp_path / "st")
    e0 = apply_cooccurrence_graph_batch(df, 0, state, "g", "v", min_shared=2)
    assert {(r["src"], r["dst"]) for r in e0.collect()} == {(10, 11)}
    # replayed batch: detected no-op
    assert apply_cooccurrence_graph_batch(df, 0, state, "g", "v", min_shared=2) is None
    # duplicate deliveries of already-seen rows in a NEW batch: counts must
    # not inflate (membership anti-join), while new rows still extend pairs
    df2 = spark.createDataFrame([(1, 10), (1, 12), (3, 100)], "g long, v long")
    e1 = apply_cooccurrence_graph_batch(df2, 1, state, "g", "v", min_shared=2)
    want = cooccurrence_edges(
        df.unionByName(df2), "g", "v", min_shared=2
    )
    assert e1.exceptAll(want).count() == 0 and want.exceptAll(e1).count() == 0


def test_streaming_cooccurrence_graph_e2e_stream(spark, tmp_path):
    """End-to-end through a real file-source stream with one file per
    microbatch: the last edges snapshot equals the batch operator."""
    import os

    from emdatapipelines_spark.operators.graph import cooccurrence_edges
    from emdatapipelines_spark.streaming.incremental import (
        cooccurrence_graph_ingest,
    )

    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select("l_orderkey", "l_suppkey")
        .filter(F.col("l_orderkey") < 900)  # deterministic subset
    )
    src = str(tmp_path / "src")
    for i in range(3):
        li.filter(F.abs(F.xxhash64("l_orderkey", "l_suppkey")) % 3 == i).coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(src, f"f{i}"))
    stream = (
        spark.readStream.schema("l_orderkey long, l_suppkey long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = cooccurrence_graph_ingest(
        stream,
        str(tmp_path / "state"),
        str(tmp_path / "edges"),
        str(tmp_path / "ckpt"),
        "l_orderkey",
        "l_suppkey",
        min_shared=2,
    )
    q.awaitTermination(180)
    batches = sorted(os.listdir(str(tmp_path / "edges")))
    final = spark.read.parquet(os.path.join(str(tmp_path / "edges"), batches[-1]))
    want = cooccurrence_edges(li, "l_orderkey", "l_suppkey", min_shared=2)
    assert final.exceptAll(want).count() == 0 and want.exceptAll(final).count() == 0


def test_token_budget_water_filling_skewed(spark):
    """The fixture's sources are balanced (everything saturates), so pin
    the mixed regime here: skewed sources where small ones keep all their
    tokens and large ones clip to a common level, vs a Python reference."""
    import __spark_entry__ as entry  # noqa: F401  (query import side effect)
    from emdatapipelines_spark.queries.extensions import llm_token_budget  # noqa: F401

    from emdatapipelines_spark.llmdata.sampling import water_fill_allocations

    sizes = {"tiny": 10, "small": 50, "mid": 200, "big": 1000, "huge": 4000}
    srcs = spark.createDataFrame(list(sizes.items()), "source string, t long")
    out = {
        r["source"]: (r["allocation"], r["saturated"])
        for r in water_fill_allocations(srcs, "source", "t").collect()
    }
    # python reference: B = 2630, sorted [10,50,200,1000,4000]
    # prefix 0: cand=526>=10 keep; 10: (2620)/4=655>=50; 60: 2570/3=856>=200;
    # 260: 2370/2=1185>=1000; 1260: 1370/1=1370<4000 -> cap=1370
    assert out["tiny"] == (10, False)
    assert out["small"] == (50, False)
    assert out["mid"] == (200, False)
    assert out["big"] == (1000, False)
    assert out["huge"] == (1370, True)
    total_alloc = sum(a for a, _ in out.values())
    assert total_alloc <= 2630 and 2630 - total_alloc < 1  # exact here
