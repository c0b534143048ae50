"""Round-12 eval-analytics operators: calibration (reliability bins +
ECE/Brier scorecard), the precision/recall/F1 threshold sweep, and
majority-vote label agreement — property-pinned against direct Python
models, guard-raised on contract violations, plan-asserted codegen-only
(no Python eval) with the documented exchange counts."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

SCALE = 1_000_000


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _mk_scored(spark, seed, n=400, groups=("en", "de", "fr")):
    """(group, p, label) rows whose probability is an exact multiple
    of 1/SCALE (p = sq/SCALE round-trips through round(p*SCALE)
    exactly on every engine — no half-way cases by construction)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        g = groups[rng.randrange(len(groups))]
        sq = rng.randrange(0, SCALE + 1)
        # correlate the label with the score so the metrics are
        # non-degenerate (but the pin is exact either way)
        lab = 1 if rng.randrange(SCALE) < sq else 0
        rows.append((g, sq, sq / SCALE, lab))
    df = spark.createDataFrame(rows, "g string, sq long, p double, "
                                     "label int")
    return rows, df


# ---------------------------------------------- calibration_report


def _calib_model(rows, bins=10):
    agg = {}
    for g, sq, _p, lab in rows:
        b = min(bins - 1, sq * bins // SCALE)
        n, npos, ss = agg.get((g, b), (0, 0, 0))
        agg[(g, b)] = (n + 1, npos + lab, ss + sq)
    out = {}
    for (g, b), (n, npos, ss) in agg.items():
        out[(g, b)] = (n, npos, ss // n, npos * SCALE // n,
                       abs(ss - npos * SCALE) // n)
    return out


def test_calibration_report_pins_python_model(spark):
    rows, df = _mk_scored(spark, seed=121)
    from cascading_flink_spark.extensions import calibration_report
    got = {(r.g, r.bin): (r.n, r.n_pos, r.mean_score_x, r.pos_rate_x,
                          r.gap_x)
           for r in calibration_report(df, "p", "label",
                                       group_col="g").collect()}
    assert got == _calib_model(rows)


def test_calibration_report_edges_and_global(spark):
    """p = 1.0 closes into the LAST bin (not an 11th); p = 0 into bin
    0; the global (no group) path and a custom bin count agree with
    the model."""
    rows = [("x", 0, 0.0, 0), ("x", SCALE, 1.0, 1),
            ("x", SCALE // 2, 0.5, 1), ("x", SCALE // 2, 0.5, 0)]
    df = spark.createDataFrame(rows, "g string, sq long, p double, "
                                     "label int")
    from cascading_flink_spark.extensions import calibration_report
    out = {r.bin: (r.n, r.n_pos)
           for r in calibration_report(df, "p", "label",
                                       bins=4).collect()}
    assert out == {0: (1, 0), 2: (2, 1), 3: (1, 1)}


def test_calibration_report_guards(spark):
    df = spark.createDataFrame([("x", 0.5, 1)],
                               "g string, p double, label int")
    from cascading_flink_spark.extensions import calibration_report
    with pytest.raises(ValueError, match="bins"):
        calibration_report(df, "p", "label", bins=0)
    with pytest.raises(ValueError, match="scale"):
        calibration_report(df, "p", "label", scale=0)
    bad_p = spark.createDataFrame([("x", 1.5, 1)],
                                  "g string, p double, label int")
    with pytest.raises(Exception, match="probability"):
        calibration_report(bad_p, "p", "label").collect()
    bad_l = spark.createDataFrame([("x", 0.5, 2)],
                                  "g string, p double, label int")
    with pytest.raises(Exception, match="0/1"):
        calibration_report(bad_l, "p", "label").collect()


def test_calibration_report_plan_one_exchange_no_python(spark):
    """One partial-agg shuffle onto (group, bin), nothing else; the
    whole op stays JVM-side."""
    _rows, df = _mk_scored(spark, seed=122, n=50)
    from cascading_flink_spark.extensions import calibration_report
    plan = _plan(calibration_report(df, "p", "label", group_col="g"))
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 1
    assert "partial" in plan  # map-side combine before the shuffle


# --------------------------------------------- calibration_summary


def _summary_model(rows, bins=10):
    per_bin = {}
    for g, sq, _p, lab in rows:
        b = min(bins - 1, sq * bins // SCALE)
        n, p, ss, sq2 = per_bin.get((g, b), (0, 0, 0, 0))
        per_bin[(g, b)] = (n + 1, p + lab, ss + sq,
                           sq2 + (sq - lab * SCALE) ** 2)
    tot = {}
    for (g, _b), (n, p, ss, sq2) in per_bin.items():
        tn, tp_, ece, br = tot.get(g, (0, 0, 0, 0))
        tot[g] = (tn + n, tp_ + p, ece + abs(ss - p * SCALE), br + sq2)
    return {g: (n, p * SCALE // n, ece // n, br // (n * SCALE))
            for g, (n, p, ece, br) in tot.items()}


def test_calibration_summary_pins_python_model(spark):
    rows, df = _mk_scored(spark, seed=123)
    from cascading_flink_spark.extensions import calibration_summary
    got = {r.g: (r.n, r.pos_rate_x, r.ece_x, r.brier_x)
           for r in calibration_summary(df, "p", "label",
                                        group_col="g").collect()}
    assert got == _summary_model(rows)


def test_calibration_summary_perfectly_calibrated_bins(spark):
    """A bin whose empirical rate equals its mean score contributes 0
    to ECE exactly (the telescoped integer numerator, not a rounded
    difference): p=0.5 with half positives -> ece_x = 0."""
    rows = [("x", 0.5, 1), ("x", 0.5, 0), ("x", 0.5, 1), ("x", 0.5, 0)]
    df = spark.createDataFrame(rows, "g string, p double, label int")
    from cascading_flink_spark.extensions import calibration_summary
    [r] = calibration_summary(df, "p", "label").collect()
    assert r.ece_x == 0
    assert r.brier_x == SCALE // 4  # (0.5)^2 in units of 1/scale


# --------------------------------------------- pr_threshold_stats


def _pr_model(rows):
    from collections import defaultdict
    cnt = defaultdict(lambda: [0, 0])
    for g, s, lab in rows:
        c = cnt[(g, s)]
        c[0] += lab
        c[1] += 1 - lab
    per_g = defaultdict(list)
    for (g, s), (p, q) in cnt.items():
        per_g[g].append((s, p, q))
    out = {}
    for g, lst in per_g.items():
        lst.sort(key=lambda t: -t[0])
        tot = sum(p for _s, p, _q in lst)
        if tot == 0:
            continue
        tp = fp = 0
        for s, p, q in lst:
            tp += p
            fp += q
            fn = tot - tp
            out[(g, s)] = (tp, fp, fn, tp * SCALE // (tp + fp),
                           tp * SCALE // tot,
                           2 * tp * SCALE // (2 * tp + fp + fn))
    return out


def test_pr_threshold_stats_pins_python_model(spark):
    rng = random.Random(124)
    rows = [(["en", "de"][rng.randrange(2)], rng.randrange(40),
             rng.randrange(2)) for _ in range(500)]
    # a one-class group must vanish from the output entirely
    rows += [("zz", 7, 0), ("zz", 9, 0)]
    df = spark.createDataFrame(rows, "g string, s long, label int")
    from cascading_flink_spark.extensions import pr_threshold_stats
    got = {(r.g, r.threshold): (r.tp, r.fp, r.fn, r.precision_x1e6,
                                r.recall_x1e6, r.f1_x1e6)
           for r in pr_threshold_stats(df, "s", "label",
                                       group_col="g").collect()}
    assert got == _pr_model([r for r in rows if r[0] != "zz"])
    assert not any(g == "zz" for g, _s in got)


def test_pr_threshold_stats_sweep_shape(spark):
    """Recall is monotonically non-increasing in the threshold, hits
    1e6 at the lowest threshold, and the lowest threshold's precision
    equals the base rate."""
    rng = random.Random(125)
    rows = [("g", rng.randrange(25), rng.randrange(2))
            for _ in range(300)]
    df = spark.createDataFrame(rows, "g string, s long, label int")
    from cascading_flink_spark.extensions import pr_threshold_stats
    out = sorted((r.threshold, r.recall_x1e6, r.precision_x1e6, r.tp,
                  r.fp)
                 for r in pr_threshold_stats(df, "s", "label",
                                             group_col="g").collect())
    recalls = [r for _t, r, _p, _tp, _fp in out]
    assert recalls == sorted(recalls, reverse=True)
    assert out[0][1] == SCALE  # threshold = min score retrieves all
    n_pos = sum(l for _g, _s, l in rows)
    assert out[0][2] == n_pos * SCALE // len(rows)


def test_pr_threshold_stats_quantize_path(spark):
    """quantize_x buckets a continuous score in-plan (the
    classifier_auc contract) — same result as pre-quantizing by
    hand."""
    rng = random.Random(126)
    rows = [("g", rng.randrange(200), rng.randrange(2))
            for _ in range(300)]
    df = (spark.createDataFrame(rows, "g string, sq long, label int")
          .withColumn("raw", F.col("sq") / F.lit(10.0)))
    from cascading_flink_spark.extensions import pr_threshold_stats
    a = {(r.g, r.threshold): (r.tp, r.fp, r.f1_x1e6)
         for r in pr_threshold_stats(df, "raw", "label", group_col="g",
                                     quantize_x=10).collect()}
    b = {(r.g, r.threshold): (r.tp, r.fp, r.f1_x1e6)
         for r in pr_threshold_stats(df, "sq", "label",
                                     group_col="g").collect()}
    assert a == b
    with pytest.raises(ValueError, match="quantize_x"):
        pr_threshold_stats(df, "raw", "label", quantize_x=0)


def test_pr_threshold_stats_plan_reduced_frame_no_python(spark):
    """The groupBy shuffles the CORPUS once; both windows then ride
    the (group, distinct score) reduced frame — exactly 2 exchanges,
    no Python eval."""
    rng = random.Random(127)
    rows = [("g", rng.randrange(25), rng.randrange(2))
            for _ in range(100)]
    df = spark.createDataFrame(rows, "g string, s long, label int")
    from cascading_flink_spark.extensions import pr_threshold_stats
    plan = _plan(pr_threshold_stats(df, "s", "label", group_col="g"))
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 2


# ------------------------------------------------ label_agreement


def _agree_model(rows, min_votes=1):
    from collections import defaultdict
    cnt = defaultdict(lambda: defaultdict(int))
    for item, lab in rows:
        if lab is not None:
            cnt[item][lab] += 1
    out = {}
    for item, labs in cnt.items():
        n = sum(labs.values())
        if n < min_votes:
            continue
        maj, mn = sorted(labs.items(), key=lambda t: (-t[1], t[0]))[0]
        out[item] = (n, len(labs), maj, mn, mn * SCALE // n)
    return out


def test_label_agreement_pins_python_model(spark):
    rng = random.Random(128)
    rows = [(rng.randrange(40),
             ["good", "bad", "spam", None][rng.randrange(4)])
            for _ in range(600)]
    df = spark.createDataFrame(rows, "item long, lab string")
    from cascading_flink_spark.extensions import label_agreement
    got = {r.item: (r.n_votes, r.n_labels, r.majority_label,
                    r.majority_n, r.agreement_x1e6)
           for r in label_agreement(df, "item", "lab").collect()}
    assert got == _agree_model(rows)


def test_label_agreement_tiebreak_and_min_votes(spark):
    """A 2-2 tie resolves to the ASC-smaller label in the label's OWN
    ordering; min_votes drops thin items AFTER null exclusion."""
    rows = [(1, "b"), (1, "b"), (1, "a"), (1, "a"),
            (2, "z"), (2, None), (3, None)]
    df = spark.createDataFrame(rows, "item long, lab string")
    from cascading_flink_spark.extensions import label_agreement
    got = {r.item: (r.majority_label, r.agreement_x1e6, r.n_votes)
           for r in label_agreement(df, "item", "lab").collect()}
    assert got == {1: ("a", SCALE // 2, 4), 2: ("z", SCALE, 1)}
    got2 = {r.item for r in label_agreement(df, "item", "lab",
                                            min_votes=2).collect()}
    assert got2 == {1}
    with pytest.raises(ValueError, match="min_votes"):
        label_agreement(df, "item", "lab", min_votes=0)


def test_label_agreement_keeps_label_type(spark):
    """Integer labels stay integers (the connected_components
    type-preservation convention) and order numerically: 9 < 11 for
    the tiebreak only if compared as INTs."""
    rows = [(1, 9), (1, 11), (1, 11), (1, 9)]
    df = spark.createDataFrame(rows, "item long, lab long")
    from cascading_flink_spark.extensions import label_agreement
    [r] = label_agreement(df, "item", "lab").collect()
    assert r.majority_label == 9 and isinstance(r.majority_label, int)
    [t] = [f.dataType.simpleString()
           for f in label_agreement(df, "item", "lab").schema
           if f.name == "majority_label"]
    assert t == "bigint"


def test_label_agreement_plan_reduced_frame_no_python(spark):
    rows = [(i % 7, str(i % 3)) for i in range(100)]
    df = spark.createDataFrame(rows, "item long, lab string")
    from cascading_flink_spark.extensions import label_agreement
    plan = _plan(label_agreement(df, "item", "lab"))
    assert "EvalPython" not in plan
    # corpus shuffles once onto (item, label); the window re-keys the
    # REDUCED votes-per-item frame onto item
    assert plan.count("Exchange") == 2


# ------------------------------------------------- edit_dup_pairs


def _lev(a, b):
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _near_dup_corpus(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    rows = [
        (0, base),
        (1, base),                                   # verbatim: dist 0
        (2, base.replace("tok7", "tok7x", 1)),       # 1 char insert
        (3, base.replace("tok20 tok21", "tok99", 1)),
        (4, " ".join(f"other{i}" for i in range(60))),
        (5, base + " trailing tail of forty-plus extra characters xx"),
    ]
    return rows, spark.createDataFrame(rows, "doc_id long, text string")


def test_edit_dup_pairs_pins_python_levenshtein(spark):
    """Verify stage == direct Python Levenshtein over the operator's
    OWN candidate set (the candidate stage is the audited md5-MinHash
    banding; this pins that the verify neither adds nor loses
    pairs)."""
    rows, df = _near_dup_corpus(spark)
    from cascading_flink_spark.extensions import (edit_dup_pairs,
                                                  minhash_lsh_pairs)
    cands = {(r.id_a, r.id_b)
             for r in minhash_lsh_pairs(df, use_md5=True).collect()}
    txt = dict(rows)
    expected = {(a, b): _lev(txt[a], txt[b]) for a, b in cands
                if _lev(txt[a], txt[b]) <= 10}
    got = {(r.id_a, r.id_b): r.edit_dist
           for r in edit_dup_pairs(df, max_dist=10).collect()}
    assert got == expected
    assert got[(0, 1)] == 0          # verbatim pair survives at dist 0
    assert (0, 2) in got             # one-char edit
    assert all(d <= 10 for d in got.values())
    # doc 5 is a candidate (same prefix) but 40+ chars longer: both the
    # length filter and the bounded levenshtein exclude it
    assert not any(5 in p for p in got)


def test_edit_dup_pairs_guard_and_zero_dist(spark):
    _rows, df = _near_dup_corpus(spark)
    from cascading_flink_spark.extensions import edit_dup_pairs
    with pytest.raises(ValueError, match="max_dist"):
        edit_dup_pairs(df, max_dist=-1)
    got = {(r.id_a, r.id_b): r.edit_dist
           for r in edit_dup_pairs(df, max_dist=0).collect()}
    assert got == {(0, 1): 0}        # max_dist=0 keeps only verbatim


def test_edit_dup_pairs_plan_no_cartesian_no_python(spark):
    _rows, df = _near_dup_corpus(spark)
    from cascading_flink_spark.extensions import edit_dup_pairs
    plan = _plan(edit_dup_pairs(df, max_dist=10))
    assert "EvalPython" not in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan


# ---------------------------------------------------- signal_corr


def _pearson_model(pairs):
    import math
    n = len(pairs)
    sx = sum(x for x, _ in pairs)
    sy = sum(y for _, y in pairs)
    sxx = sum(x * x for x, _ in pairs)
    syy = sum(y * y for _, y in pairs)
    sxy = sum(x * y for x, y in pairs)
    dx, dy = n * sxx - sx * sx, n * syy - sy * sy
    if dx <= 0 or dy <= 0:
        return None
    return (n * sxy - sx * sy) / (math.sqrt(dx) * math.sqrt(dy))


def _rank2(vals):
    from collections import Counter
    cnt = Counter(vals)
    r2, less = {}, 0
    for v in sorted(cnt):
        r2[v] = 2 * less + cnt[v] + 1
        less += cnt[v]
    return r2


def test_signal_corr_pearson_pins_python_model(spark):
    rng = random.Random(129)
    data = {"a": [(rng.randrange(100), rng.randrange(100))
                  for _ in range(300)],
            "b": [(x, 2 * x + rng.randrange(10))
                  for x in (rng.randrange(50) for _ in range(200))]}
    rows = [(g, x, y) for g, ps in data.items() for x, y in ps]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    from cascading_flink_spark.extensions import signal_corr
    got = {r.g: (r.n, r.rho)
           for r in signal_corr(df, "x", "y", group_col="g").collect()}
    for g, ps in data.items():
        n, rho = got[g]
        assert n == len(ps)
        assert rho == pytest.approx(_pearson_model(ps), abs=1e-4)


def test_signal_corr_perfect_and_constant(spark):
    """Exact-linear pairs give rho exactly +/-1.0; a constant signal
    has undefined rho and the group is EXCLUDED (one-class AUC
    convention)."""
    rows = ([("up", x, 2 * x + 3) for x in range(40)]
            + [("down", x, -x) for x in range(40)]
            + [("flat", x, 7) for x in range(40)])
    df = spark.createDataFrame(rows, "g string, x long, y long")
    from cascading_flink_spark.extensions import signal_corr
    got = {r.g: r.rho
           for r in signal_corr(df, "x", "y", group_col="g").collect()}
    assert got == {"up": 1.0, "down": -1.0}


def test_signal_corr_spearman_pins_tie_averaged_model(spark):
    """Spearman == Pearson on tie-AVERAGED 2x-ranks (direct Python
    model with Counter-based ranks); a monotone nonlinear map scores
    exactly 1.0 where Pearson doesn't."""
    rng = random.Random(130)
    xs = [rng.randrange(30) for _ in range(250)]  # dense ties
    ys = [x ** 3 if rng.randrange(4) else rng.randrange(27000)
          for x in xs]
    df = spark.createDataFrame([("g", x, y) for x, y in zip(xs, ys)],
                               "g string, x long, y long")
    from cascading_flink_spark.extensions import signal_corr
    [r] = signal_corr(df, "x", "y", group_col="g",
                      method="spearman").collect()
    rx, ry = _rank2(xs), _rank2(ys)
    model = _pearson_model([(rx[x], ry[y]) for x, y in zip(xs, ys)])
    assert r.rho == pytest.approx(model, abs=1e-4)
    mono = spark.createDataFrame([("g", x, x ** 3) for x in range(50)],
                                 "g string, x long, y long")
    [m] = signal_corr(mono, "x", "y", group_col="g",
                      method="spearman").collect()
    assert m.rho == 1.0


def test_signal_corr_quantize_and_guards(spark):
    """quantize buckets raw doubles in-plan — same result as
    pre-quantizing by hand; NULLs drop rows; bad args raise."""
    rng = random.Random(131)
    rows = [("g", rng.randrange(500), rng.randrange(500))
            for _ in range(200)]
    df = (spark.createDataFrame(rows, "g string, xq long, yq long")
          .withColumn("x", F.col("xq") / F.lit(10.0))
          .withColumn("y", F.col("yq") / F.lit(10.0)))
    from cascading_flink_spark.extensions import signal_corr
    [a] = signal_corr(df, "x", "y", group_col="g", quantize_x=10,
                      quantize_y=10).collect()
    [b] = signal_corr(df, "xq", "yq", group_col="g").collect()
    assert (a.n, a.rho) == (b.n, b.rho)
    with pytest.raises(ValueError, match="method"):
        signal_corr(df, "x", "y", method="kendall")
    with pytest.raises(ValueError, match="quantize_x"):
        signal_corr(df, "x", "y", quantize_x=0)
    withnull = spark.createDataFrame(
        [("g", 1, 2), ("g", 2, None), ("g", 3, 5), ("g", 4, 4)],
        "g string, x long, y long")
    [r] = signal_corr(withnull, "x", "y", group_col="g").collect()
    assert r.n == 3


def test_signal_corr_plan_reduced_frame_no_python(spark):
    """Pearson: ONE corpus-pass shuffle onto (group, x, y), one
    rollup on the reduced frame — 2 exchanges, no Python eval, no
    window over the raw rows."""
    rows = [("g", i % 17, (i * 7) % 23) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    from cascading_flink_spark.extensions import signal_corr
    plan = _plan(signal_corr(df, "x", "y", group_col="g"))
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 2
    sp = _plan(signal_corr(df, "x", "y", group_col="g",
                           method="spearman"))
    assert "EvalPython" not in sp


def test_edit_dup_pairs_collapse_equals_raw(spark):
    """collapse_exact=True is bit-identical to the raw path on a
    verbatim-dup-dense corpus (4 copies of each base text + near
    variants + a 2-token short text that must pair in NEITHER
    path)."""
    base = " ".join(f"tok{i}" for i in range(40))
    other = " ".join(f"oth{i}" for i in range(40))
    rows = ([(i, base) for i in range(4)]
            + [(4, base.replace("tok5", "tok5z", 1))]
            + [(10 + i, other) for i in range(3)]
            + [(20, "two tokens"), (21, "two tokens")])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from cascading_flink_spark.extensions import edit_dup_pairs
    fast = {(r.id_a, r.id_b): r.edit_dist
            for r in edit_dup_pairs(df, max_dist=5).collect()}
    raw = {(r.id_a, r.id_b): r.edit_dist
           for r in edit_dup_pairs(df, max_dist=5,
                                   collapse_exact=False).collect()}
    assert fast == raw
    assert fast[(0, 1)] == 0 and fast[(0, 4)] == 1
    assert not any(20 in p or 21 in p for p in fast)


# ------------------------------------------------ confusion_report


def _confusion_model(rows):
    from collections import defaultdict
    cnt = defaultdict(int)
    for p, g in rows:
        if p is not None and g is not None:
            cnt[(p, g)] += 1
    labels = ({p for p, _ in cnt} | {g for _, g in cnt})
    out = {}
    for lb in labels:
        n_pred = sum(c for (p, _), c in cnt.items() if p == lb)
        n_gold = sum(c for (_, g), c in cnt.items() if g == lb)
        tp = cnt.get((lb, lb), 0)
        out[lb] = (n_gold, n_pred, tp,
                   tp * SCALE // n_pred if n_pred else 0,
                   tp * SCALE // n_gold if n_gold else 0,
                   2 * tp * SCALE // (n_pred + n_gold))
    return out


def test_confusion_report_pins_python_model(spark):
    rng = random.Random(132)
    labs = ["a", "b", "c", "d"]
    rows = [(labs[rng.randrange(4)], labs[rng.randrange(4)])
            for _ in range(500)]
    rows += [(None, "a"), ("a", None)]  # unlabeled rows drop
    df = spark.createDataFrame(rows, "pred string, gold string")
    from cascading_flink_spark.extensions import confusion_report
    got = {r.label: (r.n_gold, r.n_pred, r.tp, r.precision_x1e6,
                     r.recall_x1e6, r.f1_x1e6)
           for r in confusion_report(df, "pred", "gold").collect()}
    assert got == _confusion_model(rows)


def test_confusion_report_either_column_contract(spark):
    """A never-predicted class reports recall 0 (not a missing row);
    a hallucinated class reports precision 0; both get f1 0."""
    rows = [("a", "a"), ("a", "ghost"), ("halluc", "a")]
    df = spark.createDataFrame(rows, "pred string, gold string")
    from cascading_flink_spark.extensions import confusion_report
    got = {r.label: (r.n_gold, r.n_pred, r.tp, r.precision_x1e6,
                     r.recall_x1e6)
           for r in confusion_report(df, "pred", "gold").collect()}
    assert got["ghost"] == (1, 0, 0, 0, 0)
    assert got["halluc"] == (0, 1, 0, 0, 0)
    assert got["a"] == (2, 2, 1, SCALE // 2, SCALE // 2)


def test_confusion_report_grouped_and_typed(spark):
    """group_col partitions the report; integer labels keep their
    type through the full-outer label join."""
    rows = [("g1", 1, 1), ("g1", 1, 2), ("g2", 2, 2)]
    df = spark.createDataFrame(rows, "g string, pred long, gold long")
    from cascading_flink_spark.extensions import confusion_report
    out = confusion_report(df, "pred", "gold", group_col="g")
    got = {(r.g, r.label): (r.n_gold, r.n_pred, r.tp)
           for r in out.collect()}
    assert got == {("g1", 1): (1, 2, 1), ("g1", 2): (1, 0, 0),
                   ("g2", 2): (1, 1, 1)}
    [t] = [f.dataType.simpleString() for f in out.schema
           if f.name == "label"]
    assert t == "bigint"


def test_confusion_report_plan_reduced_frame_no_python(spark):
    rows = [("a", "b")] * 50
    df = spark.createDataFrame(rows, "pred string, gold string")
    from cascading_flink_spark.extensions import confusion_report
    plan = _plan(confusion_report(df, "pred", "gold"))
    assert "EvalPython" not in plan
    assert "Cartesian" not in plan


# --------------------------------------------------------- mmr_select


def _mmr_model(items, k, lam):
    """items: {id: (rel, scaled_vec)} — direct greedy MMR in exact
    Python ints."""
    mu = 1000 - lam
    dot = lambda a, b: sum(x * y for x, y in zip(a, b))
    first = max(items, key=lambda i: (items[i][0] * lam, -i))
    out = [(first, 1, items[first][0], 0, lam * items[first][0])]
    sel = [first]
    maxdot = {i: dot(v, items[first][1]) for i, (_r, v) in items.items()}
    for rank in range(2, k + 1):
        cand = [i for i in items if i not in sel]
        best = max(cand, key=lambda i: (items[i][0] * lam
                                        - maxdot[i] * mu, -i))
        out.append((best, rank, items[best][0], maxdot[best],
                    items[best][0] * lam - maxdot[best] * mu))
        sel.append(best)
        for i, (_r, v) in items.items():
            maxdot[i] = max(maxdot[i], dot(v, items[best][1]))
    return out


def _mmr_corpus(spark, seed, n=40, dim=8):
    rng = random.Random(seed)
    items = {}
    rows = []
    for i in range(n):
        sv = [rng.randrange(-SCALE, SCALE + 1) for _ in range(dim)]
        rel = rng.randrange(-10 * SCALE, 10 * SCALE)
        items[i] = (rel, sv)
        rows.append((i, [x / SCALE for x in sv], rel))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, rel_x long")
    return items, df


def test_mmr_select_pins_python_model(spark):
    items, df = _mmr_corpus(spark, seed=133)
    from cascading_flink_spark.extensions import mmr_select
    got = [(r.vec_id, r.mmr_rank, r.rel_x, r.penalty_x, r.score_x)
           for r in mmr_select(df, k=7, lambda_x1000=700)
           .orderBy("mmr_rank").collect()]
    assert got == _mmr_model(items, k=7, lam=700)


def test_mmr_select_lambda_extremes(spark):
    """lambda=1000 ignores diversity (picks = top-k by rel, id
    tiebreak); low lambda prefers anti-similar items — the negative
    penalty is NOT clamped at zero."""
    items, df = _mmr_corpus(spark, seed=134)
    from cascading_flink_spark.extensions import mmr_select
    pure = [r.vec_id for r in mmr_select(df, k=5, lambda_x1000=1000)
            .orderBy("mmr_rank").collect()]
    top = sorted(items, key=lambda i: (-items[i][0], i))[:5]
    assert pure == top
    out = mmr_select(df, k=5, lambda_x1000=100).orderBy("mmr_rank")
    rows = out.collect()
    assert [r.vec_id for r in rows] == [t[0] for t in
                                        _mmr_model(items, 5, 100)]
    assert any(r.penalty_x < 0 for r in rows[1:])


def test_mmr_select_guards(spark):
    _items, df = _mmr_corpus(spark, seed=135, n=4)
    from cascading_flink_spark.extensions import mmr_select
    with pytest.raises(ValueError, match="k must"):
        mmr_select(df, k=0)
    with pytest.raises(ValueError, match="lambda_x1000"):
        mmr_select(df, k=2, lambda_x1000=1001)
    with pytest.raises(ValueError, match="exceeds corpus"):
        mmr_select(df, k=5).collect()
    empty = df.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty"):
        mmr_select(empty, k=1)


def test_mmr_select_id_type_and_row_count(spark):
    _items, df = _mmr_corpus(spark, seed=136, n=10)
    sdf = df.withColumn("vec_id", F.concat(F.lit("d"),
                                           F.col("vec_id")))
    from cascading_flink_spark.extensions import mmr_select
    out = mmr_select(sdf, k=3)
    assert out.count() == 3
    [t] = [f.dataType.simpleString() for f in out.schema
           if f.name == "vec_id"]
    assert t == "string"


# ------------------------------------------------------- rbo_at_k


def _rbo_model(la, lb, k, p1000, scale=SCALE):
    """Direct truncated-RBO: per depth d, overlap(d)/d * (1-p)p^(d-1),
    computed with the SAME exact-integer weight rounding the operator
    uses — but summed per DEPTH, cross-checking the operator's
    per-item telescoping."""
    ws = []
    for j in range(1, k + 1):
        num = scale * (1000 - p1000) * p1000 ** (j - 1)
        den = j * 1000 ** j
        ws.append((2 * num + den) // (2 * den))
    out = 0
    for d in range(1, k + 1):
        ov = len(set(la[:d]) & set(lb[:d]))
        out += ws[d - 1] * ov
    return out


def _ranked_df(spark, lists):
    """lists: {query: [ids best-first]} -> (query_id, vec_id, sim)
    with sim encoding the rank."""
    rows = [(q, i, float(len(ids) - r))
            for q, ids in lists.items() for r, i in enumerate(ids)]
    return spark.createDataFrame(
        rows, "query_id long, vec_id long, sim double")


def test_rbo_at_k_pins_depth_model(spark):
    rng = random.Random(137)
    la = {q: rng.sample(range(30), 10) for q in range(4)}
    lb = {q: rng.sample(range(30), 10) for q in range(4)}
    a, b = _ranked_df(spark, la), _ranked_df(spark, lb)
    from cascading_flink_spark.extensions import rbo_at_k
    got = {r.query_id: (r.n_common, r.rbo_x)
           for r in rbo_at_k(a, b, k=10, p_x1000=900).collect()}
    for q in la:
        assert got[q][1] == _rbo_model(la[q], lb[q], 10, 900)
        assert got[q][0] == len(set(la[q]) & set(lb[q]))


def test_rbo_at_k_identity_disjoint_and_anchor(spark):
    """Identical lists score the truncated-prefix maximum
    (sum_d W[d] = sum_j j*w_j ~ 1 - p^k, NOT 1e6 — the documented
    RBO_min semantics); disjoint lists score 0; a query list_b never
    answers reports 0 instead of vanishing; a query only in list_b is
    not reported (list_a is the anchor)."""
    la = {1: list(range(10)), 2: list(range(10)),
          3: list(range(10))}
    lb = {1: list(range(10)), 2: list(range(100, 110)),
          4: list(range(10))}
    a, b = _ranked_df(spark, la), _ranked_df(spark, lb)
    from cascading_flink_spark.extensions import rbo_at_k
    from cascading_flink_spark.extensions.similarity import (
        _rbo_suffix_weights)
    got = {r.query_id: (r.n_common, r.rbo_x)
           for r in rbo_at_k(a, b, k=10, p_x1000=900).collect()}
    W = _rbo_suffix_weights(10, 900, SCALE)
    assert got[1] == (10, sum(W))
    assert got[2] == (0, 0)
    assert got[3] == (0, 0)      # list_b silent on query 3 -> rbo 0
    assert 4 not in got          # list_b-only query not reported
    # truncated maximum ~ 1 - 0.9^10 (integer rounding inside 10/1e6)
    assert abs(sum(W) - round((1 - 0.9 ** 10) * SCALE)) <= 10


def test_rbo_at_k_guards_and_plan(spark):
    la = {1: [1, 2, 3]}
    a = _ranked_df(spark, la)
    from cascading_flink_spark.extensions import rbo_at_k
    with pytest.raises(ValueError, match="k must"):
        rbo_at_k(a, a, k=0)
    with pytest.raises(ValueError, match="p_x1000"):
        rbo_at_k(a, a, p_x1000=1000)
    plan = _plan(rbo_at_k(a, a, k=5))
    assert "EvalPython" not in plan
    assert "Cartesian" not in plan


# --------------------------------------------- concentration_report


def _conc_model(rows, top_n=4):
    from collections import defaultdict
    cnt = defaultdict(lambda: defaultdict(int))
    for g, k in rows:
        if k is not None:
            cnt[g][k] += 1
    out = {}
    for g, ks in cnt.items():
        n = sum(ks.values())
        sq = sum(c * c for c in ks.values())
        ordered = sorted(ks.items(), key=lambda t: (-t[1], t[0]))
        top1 = ordered[0][1]
        topn = sum(c for _k, c in ordered[:top_n])
        out[g] = (n, len(ks), sq * SCALE // (n * n),
                  top1 * SCALE // n, topn * SCALE // n)
    return out


def test_concentration_report_pins_python_model(spark):
    rng = random.Random(138)
    rows = [(["en", "de"][rng.randrange(2)],
             f"src{rng.randrange(9)}") for _ in range(600)]
    rows += [("en", None)]  # unattributed rows drop
    df = spark.createDataFrame(rows, "g string, k string")
    from cascading_flink_spark.extensions import concentration_report
    got = {r.g: (r.n, r.n_keys, r.hhi_x1e6, r.top_share_x1e6,
                 r.cr4_x1e6)
           for r in concentration_report(df, "k",
                                         group_col="g").collect()}
    assert got == _conc_model([r for r in rows if r[1] is not None])


def test_concentration_report_extremes(spark):
    """Monopoly -> HHI 1e6 / top share 1e6; perfectly even k keys ->
    HHI exactly 1e6/k; top_n larger than n_keys just sums them all."""
    mono = spark.createDataFrame([("g", "only")] * 10, "g string, k string")
    even = spark.createDataFrame([("g", f"s{i}") for i in range(5)] * 8,
                                 "g string, k string")
    from cascading_flink_spark.extensions import concentration_report
    [m] = concentration_report(mono, "k", group_col="g").collect()
    assert (m.hhi_x1e6, m.top_share_x1e6, m.cr4_x1e6) == (SCALE, SCALE,
                                                          SCALE)
    [e] = concentration_report(even, "k", group_col="g",
                               top_n=9).collect()
    assert e.hhi_x1e6 == SCALE // 5
    assert e.cr9_x1e6 == SCALE
    with pytest.raises(ValueError, match="top_n"):
        concentration_report(mono, "k", top_n=0)


def test_concentration_report_plan_reduced_frame(spark):
    rows = [("g", f"s{i % 5}") for i in range(100)]
    df = spark.createDataFrame(rows, "g string, k string")
    from cascading_flink_spark.extensions import concentration_report
    plan = _plan(concentration_report(df, "k", group_col="g"))
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 2  # corpus pass + reduced rollup


# ----------------------------------------------- eccentricity_sample


def test_eccentricity_sample_exact_and_censored(spark):
    """On a 7-node path, the endpoint's true eccentricity is 6: a
    horizon >= 6 reports it exactly (BFS exhausted), a horizon of 3
    reports the CENSORED lower bound ecc = 3 with a smaller reached
    set — the documented contract; the midpoint reports 3 either
    way."""
    e = spark.createDataFrame([(i, i + 1) for i in range(6)],
                              "src long, dst long")
    from cascading_flink_spark.extensions import eccentricity_sample
    full = {r.seed: (r.n_reached, r.ecc)
            for r in eccentricity_sample(e, seeds=[0, 3],
                                         max_hops=6).collect()}
    assert full == {0: (7, 6), 3: (7, 3)}
    cens = {r.seed: (r.n_reached, r.ecc)
            for r in eccentricity_sample(e, seeds=[0],
                                         max_hops=3).collect()}
    assert cens == {0: (4, 3)}


def test_eccentricity_sample_islands_and_guards(spark):
    """A seed only reaches its own component (n_reached is the
    component size); guards mirror the bfs seed contract."""
    e = spark.createDataFrame([(0, 1), (1, 2), (10, 11)],
                              "src long, dst long")
    from cascading_flink_spark.extensions import eccentricity_sample
    got = {r.seed: (r.n_reached, r.ecc)
           for r in eccentricity_sample(e, seeds=[0, 10],
                                        max_hops=5).collect()}
    assert got == {0: (3, 2), 10: (2, 1)}
    with pytest.raises(ValueError, match="non-empty"):
        eccentricity_sample(e, seeds=[])
    with pytest.raises(ValueError, match="distinct"):
        eccentricity_sample(e, seeds=[0, 0])
    with pytest.raises(Exception, match="seed"):
        eccentricity_sample(e, seeds=[99], max_hops=2).collect()


# ------------------------------------------------------ trimmed_stats


def _trimmed_model(vals, lo=50, hi=50):
    vals = sorted(vals)
    n = len(vals)
    LB, UB = n * lo // 1000 + 1, n - n * hi // 1000
    if LB > UB:
        return None
    kept = vals[LB - 1:UB]
    lo_cut, hi_cut = vals[LB - 1], vals[UB - 1]
    ksum = sum(kept)
    return (n, len(kept), lo_cut, hi_cut, ksum // len(kept),
            (ksum + lo_cut * (LB - 1) + hi_cut * (n - UB)) // n)


def test_trimmed_stats_pins_python_model(spark):
    rng = random.Random(139)
    data = {"a": [rng.randrange(1000) for _ in range(333)],
            "b": [rng.randrange(50) for _ in range(200)]}  # dense ties
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    from cascading_flink_spark.extensions import trimmed_stats
    got = {r.g: (r.n, r.n_kept, r.lo_cut, r.hi_cut, r.trimmed_mean_x,
                 r.winsor_mean_x)
           for r in trimmed_stats(df, "v", group_col="g").collect()}
    assert got == {g: _trimmed_model(vs) for g, vs in data.items()}


def test_trimmed_stats_outlier_robustness_and_guards(spark):
    """One absurd outlier moves the plain mean but neither robust
    stat; 0-trim reproduces the plain integer mean; over-trim
    excludes the group; bad fractions raise."""
    base = list(range(1, 100))           # mean 50
    rows = [("g", v) for v in base] + [("g", 10**9)]
    df = spark.createDataFrame(rows, "g string, v long")
    from cascading_flink_spark.extensions import trimmed_stats
    [r] = trimmed_stats(df, "v", group_col="g", trim_lo_x1000=50,
                        trim_hi_x1000=50).collect()
    assert r.trimmed_mean_x == 50 and r.winsor_mean_x < 100
    [r0] = trimmed_stats(df, "v", group_col="g", trim_lo_x1000=0,
                         trim_hi_x1000=0).collect()
    assert r0.trimmed_mean_x == (sum(base) + 10**9) // 100
    assert r0.winsor_mean_x == r0.trimmed_mean_x
    ten = spark.createDataFrame([("g", i) for i in range(10)],
                                "g string, v long")
    # LB = floor(10*.6)+1 = 7 > UB = 10 - 6 = 4 -> over-trimmed
    assert trimmed_stats(ten, "v", group_col="g", trim_lo_x1000=600,
                         trim_hi_x1000=600).count() == 0
    with pytest.raises(ValueError, match="trim_lo"):
        trimmed_stats(df, "v", trim_lo_x1000=1000)


def test_trimmed_stats_plan_reduced_frame(spark):
    rows = [("g", i % 40) for i in range(400)]
    df = spark.createDataFrame(rows, "g string, v long")
    from cascading_flink_spark.extensions import trimmed_stats
    plan = _plan(trimmed_stats(df, "v", group_col="g"))
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 2  # corpus pass + reduced window


# -------------------------------------------------------- cohen_kappa


def _kappa_model(pairs, scale=SCALE):
    from collections import Counter
    cnt = Counter(p for p in pairs if None not in p)
    n = sum(cnt.values())
    D = sum(c for (a, b), c in cnt.items() if a == b)
    rowm, colm = Counter(), Counter()
    for (a, b), c in cnt.items():
        rowm[a] += c
        colm[b] += c
    P = sum(rowm[l] * colm[l] for l in set(rowm) | set(colm))
    if n * n == P:
        return None
    trunc = lambda a, b: -((-a) // b) if (a < 0) != (b < 0) else a // b
    return (n, D * scale // n, P * scale // (n * n),
            trunc((n * D - P) * scale, n * n - P))


def test_cohen_kappa_pins_python_model(spark):
    rng = random.Random(140)
    labs = ["x", "y", "z"]
    pairs = [(labs[rng.randrange(3)], labs[rng.randrange(3)])
             for _ in range(500)]
    pairs += [(None, "x"), ("y", None)]
    df = spark.createDataFrame(pairs, "a string, b string")
    from cascading_flink_spark.extensions import cohen_kappa
    [r] = cohen_kappa(df, "a", "b").collect()
    assert (r.n, r.po_x, r.pe_x, r.kappa_x) == _kappa_model(pairs)


@pytest.mark.slow  # r15: heavy, round-close full gate only
def test_cohen_kappa_extremes(spark):
    """Perfect agreement -> kappa 1e6; independent-looking balanced
    disagreement can go NEGATIVE (worse than chance, trunc toward
    zero); both-raters-constant is excluded."""
    perfect = spark.createDataFrame([("x", "x"), ("y", "y")] * 10,
                                    "a string, b string")
    from cascading_flink_spark.extensions import cohen_kappa
    [p] = cohen_kappa(perfect, "a", "b").collect()
    assert p.kappa_x == SCALE
    anti = spark.createDataFrame([("x", "y"), ("y", "x")] * 10,
                                 "a string, b string")
    [a] = cohen_kappa(anti, "a", "b").collect()
    assert a.kappa_x == -SCALE
    const = spark.createDataFrame([("x", "x")] * 5,
                                  "a string, b string")
    assert cohen_kappa(const, "a", "b").count() == 0
    with pytest.raises(ValueError, match="scale"):
        cohen_kappa(perfect, "a", "b", scale=0)


def test_cohen_kappa_grouped_plan(spark):
    rows = [("g1", "x", "x"), ("g1", "x", "y"), ("g2", "y", "y"),
            ("g2", "x", "y")]
    df = spark.createDataFrame(rows, "g string, a string, b string")
    from cascading_flink_spark.extensions import cohen_kappa
    out = cohen_kappa(df, "a", "b", group_col="g")
    assert {r.g for r in out.collect()} == {"g1", "g2"}
    plan = _plan(out)
    assert "EvalPython" not in plan and "Cartesian" not in plan


# --------------------------------------------------- average_precision


def _ap_model(rows, scale=SCALE):
    """rows: (g, s, l) — the quantized-sweep step AP with per-term
    truncation, the operator's documented estimator."""
    from collections import defaultdict
    cnt = defaultdict(lambda: [0, 0])
    for g, s, l in rows:
        cnt[(g, s)][0] += l
        cnt[(g, s)][1] += 1 - l
    per_g = defaultdict(list)
    for (g, s), (p, q) in cnt.items():
        per_g[g].append((s, p, q))
    out = {}
    for g, lst in per_g.items():
        lst.sort(key=lambda t: -t[0])
        P = sum(p for _s, p, _q in lst)
        N = sum(q for _s, _p, q in lst)
        if not P or not N:
            continue
        tp = fp = num = 0
        for _s, p, q in lst:
            tp, fp = tp + p, fp + q
            num += p * tp * scale // (tp + fp)
        out[g] = (P, N, num // P)
    return out


def test_average_precision_pins_python_model(spark):
    rng = random.Random(141)
    rows = [(["en", "de"][rng.randrange(2)], rng.randrange(30),
             rng.randrange(2)) for _ in range(600)]
    rows += [("zz", 3, 1), ("zz", 5, 1)]  # one-class -> excluded
    df = spark.createDataFrame(rows, "g string, s long, label int")
    from cascading_flink_spark.extensions import average_precision
    got = {r.g: (r.n_pos, r.n_neg, r.ap_x)
           for r in average_precision(df, "s", "label",
                                      group_col="g").collect()}
    assert got == _ap_model(rows)
    assert "zz" not in got


def test_average_precision_ranking_extremes(spark):
    """A perfect ranking (all positives above all negatives) scores
    exactly 1e6; a perfectly inverted one scores the known worst-case
    step value; quantize_x path == pre-quantized."""
    perfect = [("g", 100 + i, 1) for i in range(10)] + \
              [("g", i, 0) for i in range(10)]
    df = spark.createDataFrame(perfect, "g string, s long, label int")
    from cascading_flink_spark.extensions import average_precision
    [r] = average_precision(df, "s", "label", group_col="g").collect()
    assert r.ap_x == SCALE
    inv = [("g", i, 1) for i in range(10)] + \
          [("g", 100 + i, 0) for i in range(10)]
    di = spark.createDataFrame(inv, "g string, s long, label int")
    [ri] = average_precision(di, "s", "label", group_col="g").collect()
    assert ri.ap_x == _ap_model(inv)["g"][2] and ri.ap_x < SCALE // 2
    dq = df.withColumn("raw", F.col("s") / F.lit(4.0))
    [rq] = average_precision(dq, "raw", "label", group_col="g",
                             quantize_x=4).collect()
    assert rq.ap_x == r.ap_x
    with pytest.raises(ValueError, match="quantize_x"):
        average_precision(df, "s", "label", quantize_x=0)


# -------------------------------------------------------- ks_statistic


def _ks_model(va, vb, scale=SCALE):
    na, nb = len(va), len(vb)
    vals = sorted(set(va) | set(vb))
    ca = cb = num = 0
    sa, sb = sorted(va), sorted(vb)
    import bisect
    for v in vals:
        ca = bisect.bisect_right(sa, v)
        cb = bisect.bisect_right(sb, v)
        num = max(num, abs(ca * nb - cb * na))
    return (na, nb, num * scale // (na * nb))


def test_ks_statistic_pins_python_model(spark):
    rng = random.Random(142)
    data = {"g1": ([rng.randrange(60) for _ in range(200)],
                   [rng.randrange(60) + 5 for _ in range(150)]),
            "g2": ([rng.randrange(30) for _ in range(100)],
                   [rng.randrange(30) for _ in range(120)])}
    ra = [(g, v) for g, (va, _vb) in data.items() for v in va]
    rb = [(g, v) for g, (_va, vb) in data.items() for v in vb]
    # a one-sided group must vanish
    ra += [("only_a", 1), ("only_a", 2)]
    a = spark.createDataFrame(ra, "g string, v long")
    b = spark.createDataFrame(rb, "g string, v long")
    from cascading_flink_spark.extensions import ks_statistic
    got = {r.g: (r.n_a, r.n_b, r.ks_x)
           for r in ks_statistic(a, b, "v", group_col="g").collect()}
    assert got == {g: _ks_model(va, vb) for g, (va, vb) in data.items()}
    assert "only_a" not in got


@pytest.mark.slow  # r15: heavy, round-close full gate only
def test_ks_statistic_extremes_and_quantize(spark):
    """Identical samples -> ks 0; disjoint supports -> exactly 1e6;
    the quantize path equals pre-quantizing by hand."""
    same = spark.createDataFrame([("g", i % 7) for i in range(70)],
                                 "g string, v long")
    from cascading_flink_spark.extensions import ks_statistic
    [r0] = ks_statistic(same, same, "v", group_col="g").collect()
    assert r0.ks_x == 0
    lo = spark.createDataFrame([("g", i) for i in range(10)],
                               "g string, v long")
    hi = spark.createDataFrame([("g", 100 + i) for i in range(15)],
                               "g string, v long")
    [r1] = ks_statistic(lo, hi, "v", group_col="g").collect()
    assert r1.ks_x == SCALE
    rng = random.Random(143)
    rows = [("g", rng.randrange(300)) for _ in range(200)]
    dq = (spark.createDataFrame(rows, "g string, vq long")
          .withColumn("v", F.col("vq") / F.lit(10.0)))
    [qa] = ks_statistic(dq.filter(F.col("vq") % 2 == 0),
                        dq.filter(F.col("vq") % 2 == 1), "v",
                        group_col="g", quantize_x=10).collect()
    [qb] = ks_statistic(dq.filter(F.col("vq") % 2 == 0),
                        dq.filter(F.col("vq") % 2 == 1), "vq",
                        group_col="g").collect()
    assert (qa.n_a, qa.n_b, qa.ks_x) == (qb.n_a, qb.n_b, qb.ks_x)
    with pytest.raises(ValueError, match="quantize_x"):
        ks_statistic(lo, hi, "v", quantize_x=0)


@pytest.mark.slow  # r15: heavy, round-close full gate only
def test_collapse_expansion_plans_hide_the_verify_expression(spark):
    """Regression guard for the round-12 projection-collapse fix: the
    expansion joins broadcast the small member frames, so nothing
    downstream materializes the verify projection — without the
    verified-frame pin, Catalyst inlines levenshtein/array_intersect
    past the joins and re-evaluates them once per EXPANDED member pair
    (measured 141.9s vs 2.8s at the 32x replicate).  With the pin the
    FINAL plan must not contain the verify expression at all: it runs
    only inside the checkpointed subtree."""
    base = " ".join(f"tok{i}" for i in range(40))
    rows = ([(i, base) for i in range(4)]
            + [(4, base.replace("tok5", "tok5z", 1))]
            + [(10, "different words entirely " * 10)])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from cascading_flink_spark.extensions import (
        edit_dup_pairs, ngram_containment_pairs, ngram_jaccard_pairs)
    assert "levenshtein" not in _plan(edit_dup_pairs(df, max_dist=5))
    assert "array_intersect" not in _plan(
        ngram_jaccard_pairs(df, threshold=0.5))
    assert "array_intersect" not in _plan(
        ngram_containment_pairs(df, threshold=0.8))


# ----------------------------------------------------- rate_confidence


def _wilson_model(n, pos, z=1.96):
    import math
    p = pos / n
    z2 = z * z
    denom = 1.0 + z2 / n
    center = (p + z2 / (2.0 * n)) / denom
    half = z * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n)) / denom
    return (round(p, 4), round(center - half, 4),
            round(center + half, 4))


def test_rate_confidence_pins_python_model(spark):
    rng = random.Random(144)
    data = {"a": [rng.randrange(2) for _ in range(137)],
            "b": [rng.randrange(4) == 0 for _ in range(23)]}
    rows = [(g, int(v)) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, label int")
    from cascading_flink_spark.extensions import rate_confidence
    got = {r.g: (r.n, r.n_pos, r.rate, r.lo, r.hi)
           for r in rate_confidence(df, "label",
                                    group_col="g").collect()}
    for g, vs in data.items():
        n, pos = len(vs), sum(vs)
        rate, lo, hi = _wilson_model(n, pos)
        gn, gp, gr, glo, ghi = got[g]
        assert (gn, gp, gr) == (n, pos, rate)
        assert glo == pytest.approx(lo, abs=1e-4)
        assert ghi == pytest.approx(hi, abs=1e-4)


def test_rate_confidence_edges(spark):
    """All-positive and all-negative slices stay inside [0,1] (the
    Wilson property the normal approximation lacks); a tiny slice
    gets a WIDE band; guards raise."""
    rows = [("all1", 1)] * 8 + [("all0", 0)] * 8 + [("tiny", 1),
                                                    ("tiny", 0)]
    df = spark.createDataFrame(rows, "g string, label int")
    from cascading_flink_spark.extensions import rate_confidence
    got = {r.g: (r.rate, r.lo, r.hi)
           for r in rate_confidence(df, "label",
                                    group_col="g").collect()}
    assert got["all1"][0] == 1.0 and 0 < got["all1"][1] < 1.0 \
        and got["all1"][2] == 1.0
    assert got["all0"][0] == 0.0 and got["all0"][1] == 0.0 \
        and 0 < got["all0"][2] < 1.0
    assert got["tiny"][2] - got["tiny"][1] > 0.6
    with pytest.raises(ValueError, match="z_x1000"):
        rate_confidence(df, "label", z_x1000=-1)
    plan = _plan(rate_confidence(df, "label", group_col="g"))
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 1
