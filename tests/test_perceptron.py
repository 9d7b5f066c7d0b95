"""Batch-perceptron classifier training: exact parity with a pure-Python
reference implementation, and the learned model actually separating a
separable corpus."""

import hashlib


SF = "/root/testdata/sf0.001"
GOOD = "learning quality corpora needs honest labels every single time around"  # 11 alpha tokens
BAD = "9 8 $$ 7"


def _bucket(token, dim):
    return int(hashlib.md5(token.encode()).hexdigest()[:15], 16) % dim


def _ref_train(docs, dim, epochs):
    """Reference batch perceptron: deterministic, integer, summed update."""
    feats = {}
    labels = {}
    for doc_id, text, keep in docs:
        labels[doc_id] = 1 if keep else -1
        f = {}
        for t in text.split():
            b = _bucket(t, dim)
            f[b] = f.get(b, 0) + 1
        feats[doc_id] = f
    w = {b: 0 for b in range(dim)}
    for _ in range(epochs):
        delta = {}
        for doc_id, f in feats.items():
            s = sum(w[b] * c for b, c in f.items())
            if labels[doc_id] * s <= 0:
                for b, c in f.items():
                    delta[b] = delta.get(b, 0) + labels[doc_id] * c
        for b, d in delta.items():
            w[b] += d
    return w


def _corpus():
    """Crafted so quality_keep is unambiguous: good docs have ≥10 alpha
    tokens (alpha_ratio ≈ 0.9), bad docs are short digit/symbol noise
    (fails both gates) — no rounding-boundary labels."""
    rows = []
    for i in range(30):
        rows.append((i, GOOD + f" filler{i % 5}", 1))
    for i in range(30, 60):
        rows.append((i, BAD + f" {i}", 0))
    return rows


def test_train_perceptron_matches_reference(spark):
    from sbb_ocr_postcorrection_spark.operators.textstats import (
        CLF_DIM,
        CLF_EPOCHS,
        train_perceptron,
    )

    rows = _corpus()
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    got = train_perceptron(spark, SF, docs=docs)
    want = _ref_train(rows, CLF_DIM, CLF_EPOCHS)
    assert got == want
    # training moved some weights (non-vacuous)
    assert any(v != 0 for v in got.values())


def test_learned_classifier_separates_training_set(spark):
    """On a linearly separable corpus the learned weights classify the
    training set perfectly within 3 epochs (w=0 start: every doc is a
    mistake in epoch 0, so the summed update already points each class's
    buckets the right way)."""
    from sbb_ocr_postcorrection_spark.operators.textstats import (
        quality_classifier_learned,
    )

    rows = _corpus()
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           quality_classifier_learned(spark, SF, docs=docs).collect()}
    assert len(out) == 60
    labels = {i: k for i, _, k in rows}
    acc = sum(out[i]["pred_keep"] == labels[i] for i in out) / len(out)
    assert acc == 1.0
    for i, r in out.items():
        assert r["label_keep"] == labels[i]

def test_quality_classifier_eval_held_out(spark):
    """Held-out eval (train on doc_id%5!=0, score the fifth it never saw):
    on the separable corpus the pattern generalizes — every held doc of
    each class shares its class's token buckets with the training fold —
    so the confusion matrix is perfect and the cells partition the held
    fold exactly."""
    from sbb_ocr_postcorrection_spark.operators.textstats import (
        CLF_EVAL_FOLD,
        quality_classifier_eval,
    )

    rows = _corpus()
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    out = quality_classifier_eval(spark, SF, docs=docs).collect()
    assert len(out) == 1
    r = out[0]
    held = [row for row in rows if row[0] % CLF_EVAL_FOLD == 0]
    assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == len(held)
    assert r["fp"] == 0 and r["fn"] == 0
    assert r["tp"] == sum(1 for _, _, k in held if k)
    assert r["tn"] == sum(1 for _, _, k in held if not k)
    assert (r["prec"], r["rec"], r["f1"], r["accuracy"]) == (1.0, 1.0, 1.0, 1.0)


def test_pr_curve_invariants(spark):
    """Threshold sweep is internally consistent: cell sums are constant
    across thresholds (every held doc lands in exactly one cell), tp/fp
    are monotone non-increasing in the threshold, and the curve spans
    from keep-everything (recall 1) to keep-almost-nothing."""
    from sbb_ocr_postcorrection_spark.operators.textstats import (
        quality_classifier_pr_curve,
    )

    rows = sorted(
        quality_classifier_pr_curve(spark, SF).collect(),
        key=lambda r: r["thr"],
    )
    assert len(rows) >= 2
    pos = {r["tp"] + r["fn"] for r in rows}
    neg = {r["fp"] + r["tn"] for r in rows}
    assert len(pos) == 1 and len(neg) == 1
    tps = [r["tp"] for r in rows]
    fps = [r["fp"] for r in rows]
    assert tps == sorted(tps, reverse=True)
    assert fps == sorted(fps, reverse=True)
    # lowest threshold = min score -> everything kept
    assert rows[0]["rec"] == 1.0 and rows[0]["fn"] == 0
    # highest threshold = max score -> at most the top score bucket kept
    assert rows[-1]["tp"] + rows[-1]["fp"] <= rows[0]["tp"] + rows[0]["fp"]


def test_threshold_pick_matches_reference(spark):
    """Argmax picks == a pure-Python replay over the SAME curve rows:
    max-F1 (unrounded, lowest-thr tie) and precision-floor (exact 4/5
    integer inequality, max recall, lowest-thr tie)."""
    from sbb_ocr_postcorrection_spark.operators.textstats import (
        QT_FLOOR_DEN,
        QT_FLOOR_NUM,
        quality_classifier_pr_curve,
        quality_threshold_pick,
    )

    curve = quality_classifier_pr_curve(spark, SF).collect()
    want = {}
    best = min(
        curve,
        key=lambda r: (
            -(2 * r["tp"]) / max(2 * r["tp"] + r["fp"] + r["fn"], 1),
            r["thr"],
        ),
    )
    want["max_f1"] = (best["thr"], best["tp"], best["fp"], best["fn"])
    ok = [
        r
        for r in curve
        if r["tp"] * QT_FLOOR_DEN >= (r["tp"] + r["fp"]) * QT_FLOOR_NUM
        and r["tp"] + r["fp"] > 0
    ]
    if ok:
        fl = min(ok, key=lambda r: (-r["tp"], r["thr"]))
        want["precision_floor"] = (fl["thr"], fl["tp"], fl["fp"], fl["fn"])
    got = {
        r["pick"]: (r["thr"], r["tp"], r["fp"], r["fn"])
        for r in quality_threshold_pick(spark, SF).collect()
    }
    assert got == want
    assert "max_f1" in got


def test_calibrated_gate_applies_picked_threshold(spark):
    """Every doc's keep verdict == clf_score >= the max_f1 picked thr,
    and the scores equal the learned classifier's scores under the
    train-fold weights."""
    from sbb_ocr_postcorrection_spark.operators.textstats import (
        quality_gate_calibrated,
        quality_threshold_pick,
    )

    pick = {
        r["pick"]: r["thr"]
        for r in quality_threshold_pick(spark, SF).collect()
    }
    rows = quality_gate_calibrated(spark, SF).collect()
    assert rows
    assert {r["thr"] for r in rows} == {pick["max_f1"]}
    for r in rows:
        assert r["keep"] == int(r["clf_score"] >= r["thr"])
