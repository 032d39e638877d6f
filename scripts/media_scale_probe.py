"""Scale probe for the round-4 media lanes: perceptual-hash near-dup and
embedded-metadata extraction at two corpus sizes on the same session —
reports wall ratios (the same two-size evidence pattern as the 64-bit
simhash probe in BENCH/BASELINE.md).

Corpus: deterministic cosine-mixture textures (the phash fixture family)
with planted near-dup clusters — every doc i with i % 10 == 1 is a
corner-edited copy of doc i-1, so the expected pair set is known and
recovery is checked, not assumed. Metadata corpus: synthetic JPEG-EXIF /
PNG-tEXt / PDF payloads in rotation.

Usage: python scripts/media_scale_probe.py [n_small] [n_big]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def textured_png(seed: int, edit: bool) -> bytes:
    import numpy as np

    from arkhammirror_spark.operators.multimodal import encode_png

    rng = np.random.RandomState(seed)
    h, w = 48, 64
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.zeros((h, w))
    for _ in range(4):
        fx, fy = rng.uniform(0.5, 3, 2)
        p1, p2 = rng.uniform(0, 2 * np.pi, 2)
        img += rng.uniform(0.5, 1.5) * np.cos(
            2 * np.pi * fx * xx / w + p1
        ) * np.cos(2 * np.pi * fy * yy / h + p2)
    g = ((img - img.min()) / (img.max() - img.min() + 1e-9) * 255).astype(
        np.uint8
    )
    if edit:
        g = g.copy()
        g[0:3, 0:3] = 255
    return encode_png(np.stack([g, g, g], axis=2))


def build_image_corpus(spark, n: int):
    rows = []
    for i in range(n):
        edit = i % 10 == 1
        seed = i - 1 if edit else i
        rows.append((f"m{i:06d}", "image", textured_png(seed, edit), None))
    return spark.createDataFrame(
        rows,
        "media_id: string, media_type: string, payload: binary, duration_s: double",
    ).repartition(32)


def build_metadata_corpus(spark, n: int):
    from arkhammirror_spark.operators.media_metadata import (
        build_jpeg_exif,
        make_pdf_with_info,
    )

    jpeg = build_jpeg_exif(
        make="Canon", model="X", software="t",
        datetime_original="2021:06:01 09:00:00", gps=(40.0, -75.0),
    )
    pdf = make_pdf_with_info({"Title": "t", "Producer": "reportlab",
                              "CreationDate": "D:20230101120000Z"})
    png = textured_png(0, False)
    cycle = [jpeg, png, pdf]
    rows = [(f"d{i:06d}", cycle[i % 3]) for i in range(n)]
    return spark.createDataFrame(
        rows, "media_id: string, payload: binary"
    ).repartition(32)


def main() -> None:
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    n_big = int(sys.argv[2]) if len(sys.argv) > 2 else 20000

    from arkhammirror_spark.operators.media_metadata import (
        extract_media_metadata,
    )
    from arkhammirror_spark.operators.phash import image_neardup
    from arkhammirror_spark.session import get_spark

    spark = get_spark("media-scale-probe", master="local[32]",
                      shuffle_partitions=32)

    out = {}
    for label, n in (("small", n_small), ("big", n_big)):
        media = build_image_corpus(spark, n).localCheckpoint(eager=True)
        t0 = time.perf_counter()
        pairs = image_neardup(media).collect()
        wall = time.perf_counter() - t0
        planted = {(f"m{i-1:06d}", f"m{i:06d}") for i in range(n)
                   if i % 10 == 1}
        got = {(min(p["id_a"], p["id_b"]), max(p["id_a"], p["id_b"]))
               for p in pairs}
        recovered = len(planted & got)
        out[f"image_neardup_{label}"] = {
            "n": n, "wall_s": round(wall, 2), "pairs": len(pairs),
            "planted": len(planted), "recovered": recovered,
        }
        media.unpersist()

        meta = build_metadata_corpus(spark, n).localCheckpoint(eager=True)
        t0 = time.perf_counter()
        n_ok = extract_media_metadata(meta).where("error is null").count()
        wall = time.perf_counter() - t0
        out[f"media_metadata_{label}"] = {
            "n": n, "wall_s": round(wall, 2), "ok": n_ok,
            "docs_per_sec": round(n / wall, 1),
        }
        meta.unpersist()

    r_img = (out["image_neardup_big"]["wall_s"]
             / max(out["image_neardup_small"]["wall_s"], 1e-9))
    r_meta = (out["media_metadata_big"]["wall_s"]
              / max(out["media_metadata_small"]["wall_s"], 1e-9))
    out["data_ratio"] = n_big / n_small
    out["wall_ratio_image_neardup"] = round(r_img, 2)
    out["wall_ratio_media_metadata"] = round(r_meta, 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
