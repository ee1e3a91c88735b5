"""Round-8 additions: ADVICE-r7 fixes (cdc full-wipe refusal, oracle
division guards), iterated BPE merges, per-source rank statistics,
Spearman / Kendall tau-b."""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- cdc --


def test_cdc_apply_refuses_fully_wiped_store(spark, tmp_path):
    """ADVICE r7: batch_id > 0 against a COMPLETELY emptied store
    (full wipe, checkpoint kept) must refuse like the partial-wipe
    case — the checkpoint proves prior batches were applied, so a
    version=batch_id write holding only the current batch would
    masquerade as a full snapshot."""
    import os
    import shutil
    import time

    from lab3_spark.streaming.cdc import start_cdc_apply

    store = str(tmp_path / "store")
    feed = str(tmp_path / "feed")
    ck = str(tmp_path / "ck")
    os.makedirs(feed)
    schema = (
        "o_orderkey bigint, seq bigint, op string,"
        " price_cents bigint, o_orderstatus string"
    )

    def add_file(i: int):
        part = str(tmp_path / f"part{i}")
        spark.createDataFrame(
            [(i + 1, i + 1, "I", 100 * (i + 1), "O")], schema
        ).coalesce(1).write.parquet(part)
        (pf,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
        dst = os.path.join(feed, f"{i:02d}.parquet")
        os.rename(os.path.join(part, pf), dst)
        os.utime(dst, (time.time() + i * 10,) * 2)

    def drain() -> None:
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        q = start_cdc_apply(src, store, ck)
        if not q.awaitTermination(300):  # pragma: no cover
            q.stop()
            raise AssertionError("cdc stream timed out")

    add_file(0)
    drain()
    # wipe the WHOLE store, keep the checkpoint, feed batch 1: the
    # guard must fail the stream rather than write version=1 holding
    # only the second record
    shutil.rmtree(store)
    add_file(1)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="refusing"):
        drain()


# ---------------------------------------------------------------- bench --


def test_bench_tail_carries_slowest_map():
    """VERDICT r7 item 1: the driver archives only the LAST ~2 KB of
    bench.py's JSON line, so the top-10 "slowest" map and the headline
    scalars must sit inside that tail even with a full-size per-query
    map in front."""
    import json

    import bench

    fake = {n: 1.234 for n in bench.HEADLINE}
    slowest = dict(sorted(fake.items(), key=lambda kv: -kv[1])[:10])
    line = json.dumps(
        {
            "queries": fake,
            "cold": fake,
            "warm": fake,
            "slowest": slowest,
            "unit": "sec",
            "metric": "headline_queries_total_wall_sec",
            "sf": 0.1,
            "value": round(sum(fake.values()), 3),
        }
    )
    tail = line[-2048:]
    assert '"slowest"' in tail
    assert '"value"' in tail and '"metric"' in tail
    # and the whole top-10 map fits, not just its opening key
    body = tail.split('"slowest": ', 1)[1].split(', "unit"', 1)[0]
    assert json.loads(body) == slowest


# ------------------------------------------------------------------ bpe --


def _ref_bpe(word_counts: dict, k: int):
    """Pure-Python reference: Sennrich et al. greedy BPE over word
    types — the ground truth the replace-to-fixpoint implementation
    must reproduce."""
    segs = {w: list(w) for w in word_counts}
    out = []
    for it in range(1, k + 1):
        counts = {}
        for w, c in word_counts.items():
            s = segs[w]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        best = sorted(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1])
        )[0]
        (a, b), cnt = best
        out.append((it, a + " " + b, cnt))
        for w, s in segs.items():
            merged, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(s[i])
                    i += 1
            segs[w] = merged
    return out


def test_bpe_merges_hand_computed(spark):
    from lab3_spark.operators.textstats import bpe_merges

    docs = spark.createDataFrame(
        [(1, "aa aa ab", "s")], "doc_id bigint, text string, source string"
    )
    got = [(r["it"], r["pair"], r["cnt"]) for r in bpe_merges(docs, k=5).collect()]
    # round 1: (a,a) appears twice (once per 'aa'), (a,b) once -> merge 'a a'
    # round 2: only (a,b) remains in 'ab' -> merge 'a b'; round 3: nothing
    assert got == [(1, "a a", 2), (2, "a b", 1)]


def test_bpe_merges_matches_python_reference(spark):
    """Includes a pathological same-char run ('aaaaaaaa') where one
    replace pass is NOT enough — pins the fixpoint ≡ greedy claim."""
    from collections import Counter

    from lab3_spark.operators.textstats import bpe_merges

    texts = [
        "the theft theme then the the",
        "aaaaaaaa aaaa aa banana bananas",
        "low lower lowest newest widest widest",
    ]
    docs = spark.createDataFrame(
        [(i, t, "s") for i, t in enumerate(texts)],
        "doc_id bigint, text string, source string",
    )
    wc = Counter(
        w for t in texts for w in t.split() if len(w) >= 2
    )
    for k in (1, 4, 10):
        got = [
            (r["it"], r["pair"], r["cnt"])
            for r in bpe_merges(docs, k=k).collect()
        ]
        assert got == _ref_bpe(dict(wc), k), f"k={k}"


# ------------------------------------------------- grouped rank stats --


def _orders(spark):
    rows = []
    import random

    rng = random.Random(7)
    for i in range(400):
        status = "POF"[i % 3]
        prio = "1-URGENT" if rng.random() < 0.4 else "3-MEDIUM"
        price = round(rng.uniform(100, 900), 2)
        rows.append((i, status, prio, price))
    return spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_orderstatus string,"
        " o_orderpriority string, o_totalprice double",
    )


def test_grouped_mannwhitney_matches_per_group_scalar(spark):
    """The grouped operator must equal the corpus-global operator run
    on each group's slice."""
    from lab3_spark.operators.profile import (
        grouped_mannwhitney_u,
        mannwhitney_u,
    )

    df = _orders(spark)
    got = {
        r["grp"]: (r["n1"], r["n2"], r["u1_x2"], r["u2_x2"], r["auc_fp"])
        for r in grouped_mannwhitney_u(df).collect()
    }
    for status in "POF":
        (exp,) = mannwhitney_u(
            df.where(F.col("o_orderstatus") == status)
        ).collect()
        assert got[status] == (
            exp["n1"], exp["n2"], exp["u1_x2"], exp["u2_x2"], exp["auc_fp"]
        ), status


def test_grouped_winsorized_matches_per_group_python(spark):
    from lab3_spark.operators.profile import grouped_winsorized_stats

    df = _orders(spark).selectExpr(
        "o_orderstatus AS source",
        "CAST(o_totalprice AS BIGINT) AS n_chars",
        "o_orderkey AS doc_id",
    )
    got = {
        r["grp"]: (r["n"], r["p_lo"], r["p_hi"], r["mean_v"],
                   r["winsorized_mean_v"])
        for r in grouped_winsorized_stats(df, tail_pct=5).collect()
    }
    rows = df.collect()
    for status in "POF":
        ys = sorted(r["n_chars"] for r in rows if r["source"] == status)
        n = len(ys)
        k = max(1, n * 5 // 100)
        p_lo, p_hi = ys[k - 1], ys[n - k]
        clipped = [min(max(y, p_lo), p_hi) for y in ys]
        assert got[status] == (
            n, p_lo, p_hi, sum(ys) // n, sum(clipped) // n
        ), status


def test_spearman_matches_bruteforce(spark):
    """Tie-heavy small input vs a pure-Python tie-averaged-rank
    Pearson."""
    from lab3_spark.operators.profile import spearman_rho

    xs = [1, 2, 2, 3, 3, 3, 4, 10, 10, 5, 6, 7]
    ys = [2, 1, 3, 3, 5, 4, 4, 20, 19, 6, 6, 9]
    df = spark.createDataFrame(
        list(zip(map(float, xs), map(float, ys))),
        "l_quantity double, l_extendedprice double",
    )
    (got,) = spearman_rho(df).collect()

    def avg_ranks(v):
        s = sorted(range(len(v)), key=lambda i: v[i])
        r = [0.0] * len(v)
        i = 0
        while i < len(s):
            j = i
            while j + 1 < len(s) and v[s[j + 1]] == v[s[i]]:
                j += 1
            for t in range(i, j + 1):
                r[s[t]] = (i + j) / 2 + 1
            i = j + 1
        return r

    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(xs)
    sx, sy = sum(rx), sum(ry)
    sxx = sum(a * a for a in rx)
    syy = sum(a * a for a in ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    import math

    rho = (n * sxy - sx * sy) / math.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    assert got["n"] == n
    assert abs(got["rho_fp"] / 1e6 - rho) < 2e-6


def test_kendall_tau_b_matches_bruteforce(spark):
    from lab3_spark.operators.profile import kendall_tau_b

    import random

    rng = random.Random(3)
    xs = [rng.randint(1, 5) for _ in range(120)]
    ys = [x + rng.randint(-2, 2) for x in xs]  # correlated ordinals
    df = spark.createDataFrame(
        list(zip(xs, ys)), "xo bigint, yo bigint"
    )
    (got,) = kendall_tau_b(df, "xo", "yo").collect()
    C = D = tx = ty = 0
    n = len(xs)
    for i in range(n):
        for j in range(i + 1, n):
            dx = xs[j] - xs[i]
            dy = ys[j] - ys[i]
            if dx == 0:
                tx += 1
            if dy == 0:
                ty += 1
            if dx * dy > 0:
                C += 1
            elif dx * dy < 0:
                D += 1
    import math

    n0 = n * (n - 1) // 2
    tau = (C - D) / math.sqrt((n0 - tx) * (n0 - ty))
    assert (
        got["n"], got["n_concordant"], got["n_discordant"],
        got["tie_x_pairs"], got["tie_y_pairs"],
    ) == (n, C, D, tx, ty)
    assert abs(got["tau_fp"] / 1e6 - tau) < 2e-6


# ------------------------------------------- streaming incremental PR --


def _edge_feed(spark, tmp_path, batches):
    """Write edge batches as mtime-ordered single-file parquets."""
    import os
    import time

    feed = str(tmp_path / "feed")
    os.makedirs(feed, exist_ok=True)
    existing = len(os.listdir(feed))
    for i, edges in enumerate(batches, start=existing):
        part = str(tmp_path / f"part{i}")
        spark.createDataFrame(edges, "src bigint, dst bigint").coalesce(
            1
        ).write.parquet(part)
        (pf,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
        dst = os.path.join(feed, f"{i:02d}.parquet")
        os.rename(os.path.join(part, pf), dst)
        os.utime(dst, (time.time() + i * 10,) * 2)
    return feed


def _drain_pagerank(spark, feed, store, ck):
    src = (
        spark.readStream.schema("src bigint, dst bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    from lab3_spark.streaming.incremental_pagerank import (
        start_incremental_pagerank,
    )

    q = start_incremental_pagerank(src, store, ck, n_iter=3)
    if not q.awaitTermination(300):  # pragma: no cover
        q.stop()
        raise AssertionError("incremental pagerank stream timed out")


def test_incremental_pagerank_merged_equals_batch(spark, tmp_path):
    """The maintained rank store's final version must equal one-shot
    batch PageRank over the union of every delivered edge — bit-exact
    (integer fixed-point arithmetic, same n_iter)."""
    from lab3_spark.operators.pagerank import pagerank_fixed_point
    from lab3_spark.streaming.incremental_pagerank import latest_ranks

    b1 = [(1, 2), (2, 1), (2, 3), (3, 2)]
    b2 = [(3, 4), (4, 3), (1, 2)]  # (1,2) re-delivered: idempotent
    b3 = [(4, 5), (5, 4), (5, 1), (1, 5)]
    feed = _edge_feed(spark, tmp_path, [b1, b2, b3])
    store, ck = str(tmp_path / "store"), str(tmp_path / "ck")
    _drain_pagerank(spark, feed, store, ck)

    all_edges = spark.createDataFrame(
        sorted(set(b1 + b2 + b3)), "src bigint, dst bigint"
    )
    exp = {
        r["node"]: r["rank_fp"]
        for r in pagerank_fixed_point(all_edges, n_iter=3).collect()
    }
    got = {
        r["node"]: r["rank_fp"] for r in latest_ranks(spark, store).collect()
    }
    assert got == exp
    # and every intermediate version exists (consistent snapshot pairs)
    import os

    assert sorted(os.listdir(os.path.join(store, "ranks"))) == [
        "version=0", "version=1", "version=2",
    ]


def test_incremental_pagerank_refuses_wiped_store(spark, tmp_path):
    """Partial AND full edge-store wipes under a kept checkpoint must
    fail the stream (the cdc.py guard contract, both branches)."""
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException

    feed = _edge_feed(spark, tmp_path, [[(1, 2), (2, 1)]])
    store, ck = str(tmp_path / "store"), str(tmp_path / "ck")
    _drain_pagerank(spark, feed, store, ck)
    # full wipe of the edge store, checkpoint kept
    shutil.rmtree(store)
    _edge_feed(spark, tmp_path, [[(2, 3), (3, 2)]])
    with pytest.raises(StreamingQueryException, match="refusing"):
        _drain_pagerank(spark, feed, store, ck)


# -------------------------------------------------- paired permutation --


def test_paired_permutation_matches_python(spark):
    """Deterministic md5+cubic-mix sign flips reproduced in Python:
    the Spark result must match the brute-force computation of the
    same statistic on the same flips."""
    import hashlib

    from lab3_spark.operators.profile import paired_permutation_test

    rows = []
    vals = {}
    import random

    rng = random.Random(11)
    for cust in range(1, 31):
        a = round(rng.uniform(100, 500), 2)
        b = round(rng.uniform(100, 500), 2)
        rows.append((cust, "1995-03-01", a))
        rows.append((cust, "1996-03-01", b))
        vals[cust] = (round(a * 100), round(b * 100))
    # one unpaired customer: must be excluded
    rows.append((99, "1995-05-01", 250.0))
    df = spark.createDataFrame(
        rows, "o_custkey bigint, o_orderdate string, o_totalprice double"
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
    (got,) = paired_permutation_test(df, n_perm=50).collect()

    P = 2147483647
    ds, hs = [], []
    for cust, (a, b) in vals.items():
        ds.append(a - b)
        h = int(hashlib.md5(f"perm|{cust}".encode()).hexdigest()[:15], 16)
        hs.append(h)
    t_obs = sum(ds)
    n_extreme = 0
    for b in range(50):
        t = 0
        for d, h in zip(ds, hs):
            x = (h + b * 2654435761) % P + 1
            u = ((pow(x, 3, P)) * 48271 % P) % 1_000_000
            t += d if u < 500_000 else -d
        if abs(t) >= abs(t_obs):
            n_extreme += 1
    assert got["n_pairs"] == 30
    assert got["t_obs_cents"] == t_obs
    assert got["n_extreme"] == n_extreme
    assert got["p_fp"] == (n_extreme + 1) * 1_000_000 // 51


# ------------------------------------------------------ MW + BH screen --


def test_source_mannwhitney_bh_matches_python(spark):
    import math

    from lab3_spark.operators.profile import bh_zcrit_fp, source_mannwhitney_bh

    import random

    rng = random.Random(5)
    rows = []
    # srcA shifted distribution (should reject), others exchangeable
    for i in range(150):
        rows.append((i, "srcA", rng.randint(200, 400)))
    for i in range(150, 300):
        rows.append((i, "srcB", rng.randint(100, 300)))
    for i in range(300, 450):
        rows.append((i, "srcC", rng.randint(100, 300)))
    df = spark.createDataFrame(rows, "doc_id bigint, source string, n_chars bigint")
    got = {
        r["grp"]: (r["n1"], r["n2"], r["z_fp"], r["bh_rank"], r["bh_reject"])
        for r in source_mannwhitney_bh(df).collect()
    }

    # brute force: tie-averaged ranks over the pooled values
    vals = sorted(r[2] for r in rows)
    from collections import Counter

    cnt = Counter(vals)
    rank2 = {}
    cum = 0
    for v in sorted(cnt):
        rank2[v] = 2 * cum + cnt[v] + 1
        cum += cnt[v]
    n = len(vals)
    tie_t = sum(t**3 - t for t in cnt.values())
    exp = {}
    for src in ("srcA", "srcB", "srcC"):
        mine = [r[2] for r in rows if r[1] == src]
        n1 = len(mine)
        n2 = n - n1
        r1x2 = sum(rank2[v] for v in mine)
        numx2 = r1x2 - n1 * (n1 + 1) - n1 * n2
        var = n1 * n2 / 12 * ((n + 1) - tie_t / (n * (n - 1)))
        z_fp = math.floor(numx2 * 1_000_000 / (2 * math.sqrt(var)))
        exp[src] = (n1, n2, z_fp)
    crit = bh_zcrit_fp(3)
    order = sorted(exp, key=lambda s: (-abs(exp[s][2]), s))
    kstar = 0
    for k, s in enumerate(order, 1):
        if abs(exp[s][2]) >= crit[k - 1]:
            kstar = k
    for k, s in enumerate(order, 1):
        assert got[s] == (*exp[s], k, k <= kstar), s
    # the shifted source must be the top, FDR-rejected discovery
    assert got["srcA"][4] is True


# ---------------------------------------------------------- KS matrix --


def test_source_ks_matrix_matches_pairwise_scalar(spark):
    """Every matrix cell must equal the single-pair operator run on
    that pair (restricted to the pair's rows, same integer contract)."""
    import itertools
    import random

    from lab3_spark.operators.textstats import (
        length_ks_test,
        source_ks_matrix,
    )

    rng = random.Random(9)
    rows = []
    for i in range(300):
        src = f"s{i % 3}"
        base = {"s0": 100, "s1": 150, "s2": 100}[src]
        rows.append((i, src, base + rng.randint(0, 80)))
    df = spark.createDataFrame(rows, "doc_id bigint, source string, n_chars bigint")
    got = {
        (r["src_a"], r["src_b"]): (r["n_a"], r["n_b"], r["d_num"], r["d_fp"])
        for r in source_ks_matrix(df).collect()
    }
    assert len(got) == 3
    for a, b in itertools.combinations(["s0", "s1", "s2"], 2):
        (exp,) = length_ks_test(
            df.where(F.col("source").isin(a, b)), source_a=a, source_b=b
        ).collect()
        assert got[(a, b)] == (
            exp["n_a"], exp["n_b"], exp["d_num"], exp["d_fp"]
        ), (a, b)


# ------------------------------------------------ window partition key --


def test_one_window_partition_survives_optimizer(spark):
    """The whole point of one_window_partition(): a plain literal
    partition key is constant-folded OUT of the window spec (leaving
    it empty → the WindowExec all-to-one-partition warning), while
    pmod(spark_partition_id(), 1) must survive optimization."""
    from pyspark.sql.window import Window

    from lab3_spark.functions.partitioning import one_window_partition

    df = spark.range(100)
    w = (
        Window.partitionBy(one_window_partition())
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    plan = (
        df.withColumn("c", F.sum("id").over(w))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "pmod" in plan.lower()
    # counter-example: lit(0) folds away (the r6 sites all still warned)
    w2 = (
        Window.partitionBy(F.lit(0))
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    plan2 = (
        df.withColumn("c", F.sum("id").over(w2))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # the folded spec starts directly with the order column
    assert "windowspecdefinition(id" in plan2


# --------------------------------------------------- grouped bootstrap --


def test_grouped_bootstrap_matches_scalar_per_group(spark):
    """Each group's CI must equal the scalar poisson_bootstrap_ci run
    on that group's slice (same hashes — keys are group-disjoint)."""
    from lab3_spark.operators.profile import (
        grouped_bootstrap_ci,
        poisson_bootstrap_ci,
    )

    import random

    rng = random.Random(13)
    rows = [
        (i, f"s{i % 2}", rng.randint(50, 500)) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, n_chars bigint")
    got = {
        r["grp"]: (r["n"], r["point"], r["ci_lo"], r["ci_hi"])
        for r in grouped_bootstrap_ci(df).collect()
    }
    # exact Python recomputation of the same deterministic draws
    import hashlib

    P = 2147483647
    CDF = [367879, 735758, 919698, 981011, 996340, 999405, 999916, 999989]
    for src in ("s0", "s1"):
        mine = [(i, v) for i, s, v in rows if s == src]
        n = len(mine)
        exp_point = sum(v for _, v in mine) // n
        ms = []
        for b in range(40):
            sy = sw = 0
            for key, v in mine:
                h = int(
                    hashlib.md5(f"boot|{key}".encode()).hexdigest()[:15], 16
                )
                x = (h + b * 2654435761) % P + 1
                u = (pow(x, 3, P) * 48271 % P) % 1_000_000
                w = next(
                    (lvl for lvl, t in enumerate(CDF) if u < t), len(CDF)
                )
                sy += w * v
                sw += w
            if sw > 0:
                ms.append((sy // sw, b))
        ms.sort()
        assert got[src] == (n, exp_point, ms[0][0], ms[38][0]), src


# ------------------------------------------------------- packing curve --


def test_packing_fragmentation_curve_matches_python(spark):
    from lab3_spark.operators.sampling import packing_fragmentation_curve

    rows = [
        (1, "a", "x " * 10),    # 10 tokens
        (2, "a", "x " * 7),     # 7
        (3, "a", ""),           # empty
        (4, "b", "x " * 25),    # 25 (longer than budget 8)
        (5, "b", "x " * 3),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    got = {
        r["budget"]: (
            r["n_docs"], r["n_split_docs"], r["n_fragments"],
            r["frag_rate_fp"], r["n_bins"], r["fill_rate_fp"],
        )
        for r in packing_fragmentation_curve(df, budgets=(8, 16)).collect()
    }
    for L in (8, 16):
        n_docs = n_split = n_frag = n_bins = toks = 0
        for grp in ("a", "b"):
            before = 0
            last_bin = 0
            any_tok = False
            for _, g, t in sorted(rows):
                if g != grp:
                    continue
                nt = len(t.split())
                n_docs += 1
                if nt > 0:
                    frag = (before + nt - 1) // L - before // L + 1
                    n_frag += frag
                    if frag > 1:
                        n_split += 1
                    last_bin = (before + nt - 1) // L + 1
                    any_tok = True
                before += nt
                toks += nt
            n_bins += last_bin if any_tok else 0
        assert got[L] == (
            n_docs, n_split, n_frag, n_split * 1_000_000 // n_docs,
            n_bins, toks * 1_000_000 // (n_bins * L),
        ), L


# ------------------------------------------------------------- ESS --


def test_source_importance_ess_matches_python(spark):
    """ESS recomputed from the operator's own per-doc weights (pins
    the (Σw)²/(n·Σw²) arithmetic and the fixed-point weight step);
    uniform weights → ratio 10⁶ exactly."""
    import math

    from lab3_spark.operators.textstats import (
        dsir_log_ratio_weights,
        source_importance_ess,
    )

    rows = [
        (1, "en", "a0", "spark rows merge " * 3),
        (2, "en", "a0", "table scan value batch"),
        (3, "fr", "a0", "spark spark spark spark"),
        (4, "fr", "a1", "merge sort rows value scan"),
        (5, "en", "a1", "batch value table spark merge"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, lang string, source string, text string"
    )
    per_doc = {
        r["doc_id"]: r["mean_fp"]
        for r in dsir_log_ratio_weights(df).collect()
    }
    got = {
        r["grp"]: (r["n"], r["ess_ratio_fp"])
        for r in source_importance_ess(df).collect()
    }
    for grp in ("a0", "a1"):
        ws = [
            math.floor(math.exp(per_doc[i] / 1e6) * 1e6)
            for i, _, s, _ in rows
            if s == grp and i in per_doc
        ]
        n = len(ws)
        exp_ess = math.floor(
            sum(ws) * sum(ws) * 1_000_000 / (n * sum(w * w for w in ws))
        )
        assert got[grp] == (n, exp_ess), grp
    # degenerate check: identical docs -> identical weights -> ratio 1
    same = spark.createDataFrame(
        [(i, "en", "u", "same words here") for i in range(4)],
        "doc_id bigint, lang string, source string, text string",
    )
    (r,) = source_importance_ess(same).collect()
    assert r["ess_ratio_fp"] == 1_000_000
