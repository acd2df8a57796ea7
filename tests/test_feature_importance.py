"""Feature-importance audits — the distributed analog of the
reference's SHAP bar plots (``ml_similarity_metrics.py:209-321``):
tree split-gain importances for RF/GBT (TreeExplainer analog) and
model-agnostic permutation importance (KernelExplainer analog for the
MLP), plus the importance bar-figure sink."""

import xml.etree.ElementTree as ET

import pytest
from pyspark.sql import functions as F

from poi_name_matching_spark.operators.ml import (
    permutation_importance,
    train_model,
    tree_feature_importances,
    _assembled,
)
from poi_name_matching_spark.sources.plots import importance_bars_svg

FEATURES = ["signal", "noise"]


@pytest.fixture(scope="module")
def labeled(spark):
    """200 pairs where `signal` fully determines the label and `noise`
    is label-independent (deterministic pseudo-noise from the id)."""
    rows = []
    for i in range(200):
        label = i % 2
        signal = 0.9 if label else 0.1
        noise = ((i * 2654435761) % 997) / 997.0
        rows.append((f"l{i}", f"r{i}", signal, noise, label))
    return spark.createDataFrame(
        rows, "left_id string, right_id string, signal double, "
        "noise double, match int"
    )


@pytest.fixture(scope="module")
def rf(labeled):
    model, _ = train_model(
        labeled, kind="rf", feature_cols=FEATURES, n_trees=20
    )
    return model


class TestTreeImportances:
    def test_signal_dominates_and_normalized(self, rf, labeled):
        data, _ = _assembled(labeled, FEATURES)
        imps = tree_feature_importances(rf, data, FEATURES)
        assert [r["feature"] for r in imps][0] == "signal"
        by = {r["feature"]: r["importance"] for r in imps}
        assert by["signal"] > 0.9 > by["noise"]
        assert sum(by.values()) == pytest.approx(1.0, abs=1e-6)


class TestPermutationImportance:
    def test_signal_big_noise_null(self, rf, labeled):
        imps = permutation_importance(
            rf, labeled, FEATURES, metric="f1", seed=3, n_buckets=8
        )
        by = {r["feature"]: r for r in imps}
        # permuting the decisive feature collapses F1 from ~1.0
        assert by["signal"]["baseline"] == pytest.approx(1.0, abs=0.02)
        assert by["signal"]["importance"] > 0.3
        # the label-independent feature costs (approximately) nothing
        assert abs(by["noise"]["importance"]) < 0.05
        assert imps[0]["feature"] == "signal"  # sorted descending

    def test_deterministic_in_seed(self, rf, labeled):
        a = permutation_importance(rf, labeled, FEATURES, seed=7, n_buckets=8)
        b = permutation_importance(rf, labeled, FEATURES, seed=7, n_buckets=8)
        assert a == b


class TestImportanceBarsSVG:
    def test_bars_sorted_and_proportional(self, tmp_path):
        rows = [
            {"feature": "noise", "importance": 0.05},
            {"feature": "signal", "importance": 0.5},
            {"feature": "anti", "importance": -0.1},
        ]
        path = str(tmp_path / "imp.svg")
        svg = importance_bars_svg(rows, path)
        root = ET.fromstring(svg)
        ns = {"svg": "http://www.w3.org/2000/svg"}
        bars = [
            r for r in root.findall(".//svg:rect", ns)
            if r.get("fill-opacity") == "0.7"
        ]
        assert len(bars) == 3
        widths = [float(r.get("width")) for r in bars]
        # top bar is the largest importance; widths scale with |value|
        assert widths[0] == max(widths)
        assert widths[0] / widths[2] == pytest.approx(0.5 / 0.1, abs=0.01)
        texts = [t.text for t in root.iter("{http://www.w3.org/2000/svg}text")]
        assert texts and "signal" in texts and "Importance" in texts
        with open(path, encoding="utf-8") as f:
            assert f.read() == svg

    def test_empty_raises(self):
        with pytest.raises(ValueError):
            importance_bars_svg([])


def test_trained_models_transform_after_a_checkpoint_commit(spark, labeled, tmp_path):
    """A checkpoint commit observes its write with ``DataFrame.observe``,
    after which the session no longer serializes; models trained here
    must still transform in that session."""
    from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

    StageCheckpoint(tmp_path / "ck").write("stage", spark.range(3))
    model, preds = train_model(labeled, kind="rf", feature_cols=FEATURES, n_trees=3)
    assert preds.filter(F.col("pred") == F.col("match")).count() > 0
    data, _ = _assembled(labeled, FEATURES)
    hits = model.transform(data).filter(F.col("prediction") == F.col("match"))
    assert hits.count() > 190
