"""Differential tests: operators/image_quality.py vs the ACTUAL
ImageQualityClassifier (arkham-shard-ingest/classifiers/
image_quality.py) and ImageQualityScore rules (ingest/models.py) —
the reference class runs its real numpy heuristics against the same
pixel data through an injected PIL facade (the repo's stub-module
differential pattern; PIL itself is absent in this container)."""

from __future__ import annotations

import importlib.util
import os
import sys
import types

import numpy as np
import pytest

from arkhammirror_spark.operators.image_quality import (
    classify_image_quality,
    image_quality_metrics,
    ocr_route,
)
from arkhammirror_spark.operators.multimodal import (
    decode_image,
    encode_png,
    grayscale,
)

REF_PKG = "/root/reference/packages/arkham-shard-ingest/arkham_shard_ingest"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF_PKG), reason="reference tree not available"
)


class _ArrView:
    def __init__(self, gray):
        self._g = gray

    def __array__(self, dtype=None, copy=None):
        return self._g if dtype is None else self._g.astype(dtype)


class _FakeImg:
    """Just enough PIL.Image surface for ImageQualityClassifier: size,
    mode, info (dpi), getexif, convert('L'), context manager."""

    def __init__(self, path, dpi=None):
        with open(path, "rb") as f:
            payload = f.read()
        self._arr = decode_image(payload)
        self._gray = grayscale(self._arr)
        h, w = self._gray.shape
        self.size = (w, h)
        color_type = payload[25]
        self.mode = {0: "L", 2: "RGB", 4: "LA", 6: "RGBA"}.get(
            color_type, "RGB"
        )
        self.info = {"dpi": (dpi, dpi)} if dpi else {}

    def getexif(self):
        return {}

    def convert(self, mode):
        assert mode == "L"
        return _ArrView(self._gray)

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False


@pytest.fixture(scope="module")
def ref(tmp_path_factory):
    pkg = types.ModuleType("arkham_shard_ingest")
    pkg.__path__ = [REF_PKG]
    sys.modules.setdefault("arkham_shard_ingest", pkg)
    if "arkham_shard_ingest.models" not in sys.modules:
        mspec = importlib.util.spec_from_file_location(
            "arkham_shard_ingest.models", f"{REF_PKG}/models.py"
        )
        models = importlib.util.module_from_spec(mspec)
        sys.modules["arkham_shard_ingest.models"] = models
        mspec.loader.exec_module(models)
        sys.modules["arkham_shard_ingest"].models = models
    if "arkham_shard_ingest.classifiers" not in sys.modules:
        cpkg = types.ModuleType("arkham_shard_ingest.classifiers")
        cpkg.__path__ = [f"{REF_PKG}/classifiers"]
        sys.modules["arkham_shard_ingest.classifiers"] = cpkg
    name = "arkham_shard_ingest.classifiers.file_quality_ref"
    spec = importlib.util.spec_from_file_location(
        name, f"{REF_PKG}/classifiers/image_quality.py"
    )
    iq = importlib.util.module_from_spec(spec)
    sys.modules[name] = iq
    spec.loader.exec_module(iq)
    return sys.modules["arkham_shard_ingest.models"], iq


def _fixtures():
    """(name, HxW or HxWx3 uint8, dpi) — one per heuristic regime."""
    rng = np.random.RandomState(17)
    h, w = 48, 64
    yy, xx = np.mgrid[0:h, 0:w]
    textured = np.zeros((h, w))
    for _ in range(6):
        fx, fy = rng.uniform(0.5, 3, 2)
        p1, p2 = rng.uniform(0, 2 * np.pi, 2)
        textured += rng.uniform(0.5, 1.5) * np.cos(
            2 * np.pi * fx * xx / w + p1
        ) * np.cos(2 * np.pi * fy * yy / h + p2)
    textured = (
        (textured - textured.min())
        / (textured.max() - textured.min()) * 255
    ).astype(np.uint8)

    blank_white = np.full((h, w), 252, dtype=np.uint8)
    blank_black = np.full((h, w), 3, dtype=np.uint8)

    lowc = np.full((h, w), 128, dtype=np.uint8)
    mask = rng.rand(h, w) < 0.10
    lowc[mask] = 180

    noisy = np.where(
        rng.rand(h, w) < 0.5, 0, 255
    ).astype(np.uint8)

    grid = np.full((h, w), 230, dtype=np.uint8)
    grid[::6, :] = 20
    grid[:, ::8] = 20

    # smooth LOW-VALUE ramp (pixels <= 63): the reference's uint8
    # Laplacian wraps mod 256 for brighter images, reading as "noisy" —
    # staying under 64 keeps 4*x and neighbor sums wrap-free, so this is
    # the one regime where has_noise is genuinely False on content
    ramp = np.tile(
        np.linspace(0, 63, w).astype(np.uint8), (h, 1)
    )
    # sparse horizontal rules: 6 row edges / 112 = 0.0536 -> 'table'
    table = np.full((h, w), 230, dtype=np.uint8)
    table[8::16, :] = 20

    out = [
        ("textured_rgb", np.stack([textured] * 3, axis=2), 300),
        ("textured_gray", textured, 72),
        ("blank_white", blank_white, 150),
        ("blank_black", blank_black, None),
        ("low_contrast", lowc, 96),
        ("noisy", noisy, 220),
        ("grid", grid, 150),
        ("ramp", ramp, 201),
        ("table", table, 72),
    ]
    # CLEAN needs contrast >= 0.4 with a wrap-consistent Laplacian —
    # only reachable when the two-tone border is a small FRACTION of the
    # image (the uint8 wrap makes most textured content read "noisy",
    # the reference's own quirk), hence the larger canvas
    clean = np.zeros((200, 256), dtype=np.uint8)
    clean[:, 128:] = 128
    out.append(("clean_split", clean, 150))
    return out


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("iq")
    items = []
    for name, arr, dpi in _fixtures():
        payload = encode_png(arr)
        p = d / f"{name}.png"
        p.write_bytes(payload)
        items.append((name, p, payload, dpi))
    return items


def _ref_scores(ref, corpus):
    models, iq = ref
    clf = iq.ImageQualityClassifier()
    # inject the facade so the REAL numpy arms run on our pixels
    # (unconditionally: other differential suites register a PIL stub in
    # sys.modules, so the classifier's gated import may have "succeeded")
    fake_paths = {str(p): dpi for _, p, _, dpi in corpus}

    class _FakePIL:
        @staticmethod
        def open(path):
            return _FakeImg(path, dpi=fake_paths[str(path)])

    clf._pil = _FakePIL
    out = {}
    for name, p, _, _ in corpus:
        out[name] = clf.classify(p)
    return out


def test_metrics_match_reference(ref, spark, corpus):
    exp = _ref_scores(ref, corpus)
    media = spark.createDataFrame(
        [(name, bytearray(payload)) for name, _, payload, _ in corpus],
        "media_id string, payload binary",
    )
    got = {
        r["media_id"]: r
        for r in image_quality_metrics(media).collect()
    }
    regimes = set()
    for name, q in exp.items():
        g = got[name]
        assert g["err"] == 0, name
        assert g["contrast_ratio"] == pytest.approx(
            q.contrast_ratio, abs=1e-12
        ), name
        assert g["skew_angle"] == pytest.approx(q.skew_angle, abs=1e-12)
        assert g["has_noise"] == q.has_noise, name
        assert g["layout_complexity"] == q.layout_complexity, name
        assert g["is_blank"] == q.is_blank, name
        assert g["is_grayscale"] == q.is_grayscale, name
        assert g["compression_ratio"] == pytest.approx(
            q.compression_ratio, rel=1e-12
        ), name
        regimes.add((q.is_blank, q.has_noise, q.layout_complexity))
    assert len(regimes) >= 4  # the fixtures cover distinct regimes


def test_classification_and_routes_match_reference(ref, spark, corpus):
    models, iq = ref
    exp = _ref_scores(ref, corpus)
    media = spark.createDataFrame(
        [
            (name, bytearray(payload), dpi if dpi else 72)
            for name, _, payload, dpi in corpus
        ],
        "media_id string, payload binary, dpi int",
    )
    classified = classify_image_quality(
        image_quality_metrics(media).join(
            media.select("media_id", "dpi"), "media_id"
        ),
        dpi_col="dpi",
    )
    rows = {r["media_id"]: r for r in classified.collect()}
    seen_classes = set()
    for name, q in exp.items():
        g = rows[name]
        assert g["classification"] == q.classification.value, name
        assert g["needs_downscale"] == q.needs_downscale, name
        assert g["downscale_factor"] == pytest.approx(
            q.downscale_factor, abs=1e-12
        )
        assert g["issues"] == "|".join(q.issues), name
        seen_classes.add(q.classification.value)
    assert seen_classes >= {"clean", "messy"}

    clf = iq.ImageQualityClassifier()
    routed = {r["media_id"]: r["route"] for r in ocr_route(classified).collect()}
    for name, q in exp.items():
        want = "|".join(
            clf.get_ocr_route(
                q, ocr_mode="auto", enable_downscale=True,
                skip_blank_pages=True,
            )
        )
        assert routed[name] == want, name


def test_decode_failure_lands_in_except_arm(spark):
    media = spark.createDataFrame(
        [("bad", bytearray(b"not an image"))],
        "media_id string, payload binary",
    )
    r = image_quality_metrics(media).collect()[0]
    assert r["err"] == 1
    assert r["contrast_ratio"] == 0.5 and r["has_noise"] is True
    assert r["layout_complexity"] == "unknown"
