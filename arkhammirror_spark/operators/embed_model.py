"""Embedding stand-ins for the semantic chunker (the arkham-shard-embed
model contract).

Reference lineage: arkham_shard_embed/embedder.py — EmbeddingManager loads a
sentence-transformers model once (:67-130). `_load_model` does the same, once
per worker, and returns None when the library is absent, and
`fake_embedding` is the DETERMINISTIC fallback (md5-derived unit vector) —
same shape, so a real model is a config change, not a code change.
"""

from __future__ import annotations

import functools
import hashlib
import math


def fake_embedding(text: str, dim: int = 64, normalize: bool = True) -> list[float]:
    """Deterministic stand-in embedding: md5-seeded components in [-1, 1),
    optionally L2-normalized. Identical on every worker and every run."""
    out: list[float] = []
    counter = 0
    seed = text.encode("utf-8", "replace")
    while len(out) < dim:
        h = hashlib.md5(seed + counter.to_bytes(4, "big")).digest()
        for i in range(0, 16, 4):
            v = int.from_bytes(h[i : i + 4], "big")
            out.append(v / 2**31 - 1.0)
            if len(out) == dim:
                break
        counter += 1
    if normalize:
        n = math.sqrt(sum(x * x for x in out)) or 1.0
        out = [x / n for x in out]
    return out


@functools.cache
def _load_model(model_name: str):
    """The sentence-transformers model, once per worker, or None."""
    try:
        from sentence_transformers import SentenceTransformer  # type: ignore

        return SentenceTransformer(model_name)
    except Exception:
        return None
