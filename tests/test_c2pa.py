"""C2PA lane tests: stdlib JUMBF sniff roundtrips, manifest-field
extraction differential vs the ACTUAL reference parse() (with the
external `c2pa` lib stubbed so the reference's post-Reader walk runs on
our manifest stores), and the interpretation rules differential vs the
actual interpret_c2pa."""

from __future__ import annotations

import asyncio
import importlib.util
import json
import os
import sys
import types

import pytest

from arkhammirror_spark.operators.c2pa import (
    build_jumbf_manifest,
    embed_c2pa_jpeg,
    embed_c2pa_png,
    extract_manifest_fields,
    sniff_c2pa,
)

REF = ("/root/reference/packages/arkham-shard-media-forensics/"
       "arkham_shard_media_forensics/services/c2pa_parser.py")


def _base_jpeg() -> bytes:
    from arkhammirror_spark.operators.media_metadata import build_jpeg_exif

    return build_jpeg_exif()


def _base_png() -> bytes:
    import numpy as np

    from arkhammirror_spark.operators.multimodal import encode_png

    return encode_png(np.zeros((4, 4), dtype=np.uint8))


MANIFEST_OPENAI = {
    "active_manifest": "m1",
    "manifests": {
        "m1": {
            "claim_generator": "DALL-E 3",
            "signature_info": {"issuer": "OpenAI", "time": "2024-03-01"},
            "assertions": [
                {"label": "c2pa.actions",
                 "data": {"actions": [{"action": "c2pa.created"}]}},
                {"label": "c2pa.training-mining",
                 "data": {"entries": {
                     "c2pa.ai_training": {"use": "notAllowed"},
                     "c2pa.ai_inference": {"use": "allowed"},
                 }}},
            ],
            "ingredients": [
                {"title": "src.png", "format": "image/png",
                 "instance_id": "i1", "extra": "dropped"},
            ],
        },
        "m0": {"claim_generator": "older"},
    },
}

MANIFEST_ADOBE_AI = {
    "active_manifest": "a1",
    "manifests": {
        "a1": {
            "claim_generator": "Adobe Photoshop",
            "signature_info": {"issuer": "Adobe Inc.", "time": "2024-01-05"},
            "assertions": [
                {"label": "c2pa.actions",
                 "data": {"actions": [
                     {"action": "c2pa.edited",
                      "softwareAgent": "Firefly"}]}},
            ],
        },
    },
}

MANIFEST_UNSIGNED = {
    "active_manifest": "u1",
    "manifests": {"u1": {"claim_generator": "cli-tool"}},
}


def test_jpeg_jumbf_roundtrip():
    raw = embed_c2pa_jpeg(_base_jpeg(), MANIFEST_OPENAI)
    got = sniff_c2pa(raw)
    assert got is not None
    assert json.loads(got) == MANIFEST_OPENAI
    assert sniff_c2pa(_base_jpeg()) is None


def test_png_cabx_roundtrip():
    raw = embed_c2pa_png(_base_png(), MANIFEST_ADOBE_AI)
    got = sniff_c2pa(raw)
    assert got is not None
    assert json.loads(got) == MANIFEST_ADOBE_AI
    assert sniff_c2pa(_base_png()) is None


def test_sniff_rejects_wrong_label_and_truncation():
    raw = embed_c2pa_jpeg(_base_jpeg(), MANIFEST_UNSIGNED)
    # corrupt the jumd label: no longer a c2pa superbox
    bad = raw.replace(b"c2pa\x00", b"x2pa\x00", 1)
    assert sniff_c2pa(bad) is None
    # truncation inside the superbox must not crash
    assert sniff_c2pa(raw[: len(raw) // 2]) is None
    assert sniff_c2pa(b"") is None
    assert sniff_c2pa(b"\xff\xd8\xff") is None


# ---------------------------------------------------------------------------
# differential vs the actual reference module
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def c2pa_ref():
    if not os.path.isfile(REF):
        pytest.skip("reference tree not available")

    class _Reader:
        """Stub c2pa.Reader: hands back the JSON our sniff found."""
        payload = None

        def __init__(self, path):
            pass

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def json(self):
            return _Reader.payload

    c2pa_stub = types.ModuleType("c2pa")
    c2pa_stub.Reader = _Reader
    c2pa_stub.load_settings = lambda *a, **k: None
    structlog = types.ModuleType("structlog")

    class _Log:
        def __getattr__(self, name):
            return lambda *a, **k: None

    structlog.get_logger = lambda *a, **k: _Log()
    saved = {n: sys.modules.get(n) for n in ("c2pa", "structlog")}
    sys.modules["c2pa"] = c2pa_stub
    sys.modules["structlog"] = structlog
    try:
        spec = importlib.util.spec_from_file_location("_ref_c2pa", REF)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert mod.C2PA_AVAILABLE
        yield mod, _Reader
    finally:
        for n, m in saved.items():
            if m is None:
                sys.modules.pop(n, None)
            else:
                sys.modules[n] = m
        sys.modules.pop("_ref_c2pa", None)


def _ref_parser(c2pa_ref):
    mod, _ = c2pa_ref
    p = mod.C2PAParser.__new__(mod.C2PAParser)
    p._signature_verification_available = False
    return p


@pytest.mark.parametrize("store", [
    MANIFEST_OPENAI, MANIFEST_ADOBE_AI, MANIFEST_UNSIGNED,
    {"manifests": {"x": {}}}, {},
])
def test_manifest_field_walk_matches_reference_parse(c2pa_ref, store):
    mod, reader = c2pa_ref
    reader.payload = json.dumps(store)
    ref = asyncio.run(_ref_parser(c2pa_ref).parse("dummy.jpg"))
    got = extract_manifest_fields(store)
    assert got == ref


def test_reference_parse_no_manifest_matches_sniffless(c2pa_ref):
    mod, reader = c2pa_ref
    reader.payload = None
    ref = asyncio.run(_ref_parser(c2pa_ref).parse("dummy.jpg"))
    assert ref == {"has_c2pa": False}


_INTERPRET_CASES = [
    ("none", {"has_c2pa": False}),
    ("error", {"has_c2pa": False, "error": "boom"}),
    ("openai", extract_manifest_fields(MANIFEST_OPENAI)),
    ("adobe_ai", extract_manifest_fields(MANIFEST_ADOBE_AI)),
    ("adobe_plain", {
        "has_c2pa": True, "signature_valid": False,
        "signer": "Adobe Systems", "timestamp": "t", "actions": [],
    }),
    ("microsoft", {
        "has_c2pa": True, "signature_valid": True,
        "signer": "Microsoft Corp", "timestamp": "t", "actions": [],
    }),
    ("other", {
        "has_c2pa": True, "signature_valid": True,
        "signer": "Leica Camera AG", "timestamp": "t", "actions": [],
    }),
    ("unsigned", {
        "has_c2pa": True, "signature_valid": False,
        "signer": None, "timestamp": None, "actions": [],
    }),
]


def test_interpret_rules_match_reference(spark, c2pa_ref):
    from arkhammirror_spark.operators.c2pa import interpret_c2pa_cols

    parser = _ref_parser(c2pa_ref)
    rows = []
    for name, data in _INTERPRET_CASES:
        rows.append((
            name,
            bool(data.get("has_c2pa")),
            data.get("error"),
            bool(data.get("signature_valid")),
            data.get("signer"),
            "|".join(str(a) for a in data.get("actions", [])),
        ))
    df = spark.createDataFrame(
        rows,
        "media_id string, has_c2pa boolean, c2pa_error string, "
        "signature_valid boolean, signer string, actions_str string",
    )
    got = {r["media_id"]: r for r in interpret_c2pa_cols(df).collect()}
    for name, data in _INTERPRET_CASES:
        ref = parser.interpret_c2pa(data)
        g = got[name]
        assert g["finding"] == ref["finding"], name
        assert g["conf_level"] == ref["confidence"], name
        assert g["interpretation"] == ref["interpretation"], name
        assert g["implications"] == "|".join(ref["implications"]), name
        assert g["is_ai_generated"] == ref.get("is_ai_generated", False), name


def test_extract_c2pa_operator_end_to_end(spark):
    from arkhammirror_spark.operators.c2pa import (
        extract_c2pa,
        interpret_c2pa_cols,
    )

    payloads = [
        ("openai", embed_c2pa_jpeg(_base_jpeg(), MANIFEST_OPENAI)),
        ("adobe_ai", embed_c2pa_png(_base_png(), MANIFEST_ADOBE_AI)),
        ("unsigned", embed_c2pa_jpeg(_base_jpeg(), MANIFEST_UNSIGNED)),
        ("plain", _base_jpeg()),
    ]
    df = spark.createDataFrame(payloads, ["media_id", "payload"])
    out = {
        r["media_id"]: r
        for r in interpret_c2pa_cols(extract_c2pa(df)).collect()
    }
    assert out["openai"]["has_c2pa"] and out["openai"]["is_ai_generated"]
    assert out["openai"]["signer"] == "OpenAI"
    assert out["openai"]["n_manifests"] == "2"
    assert out["adobe_ai"]["implications"] == (
        "Contains AI-generated elements (Adobe Firefly)"
    )
    assert out["unsigned"]["interpretation"] == "Content signed by: None"
    assert out["unsigned"]["conf_level"] == "medium"
    assert not out["plain"]["has_c2pa"]
    assert out["plain"]["finding"] == "NO_C2PA"


def test_multisegment_app11_reassembly():
    """A manifest bigger than one 64KB APP11 segment must split on embed
    and reassemble on sniff (real signed manifests routinely exceed one
    segment)."""
    big = dict(MANIFEST_OPENAI)
    big["manifests"] = dict(big["manifests"])
    big["manifests"]["m1"] = dict(big["manifests"]["m1"])
    # ~150 KB of ingredient rows -> 3 APP11 segments
    big["manifests"]["m1"]["ingredients"] = [
        {"title": f"src{i:05d}.png" + "x" * 40, "format": "image/png",
         "instance_id": f"i{i}"}
        for i in range(2000)
    ]
    raw = embed_c2pa_jpeg(_base_jpeg(), big)
    assert raw.count(b"\xff\xeb") >= 3
    got = sniff_c2pa(raw)
    assert got is not None
    assert json.loads(got) == big
    fields = extract_manifest_fields(json.loads(got))
    assert len(fields["ingredients"]) == 2000
