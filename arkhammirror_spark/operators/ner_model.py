"""Model-backed NER (E1) — the spaCy path, gated exactly like the reference.

The reference tries spaCy and falls back to the deterministic mock extractor
when it's absent (arkham-shard-parse/extractors/ner.py:46-92, fallback
:63-65); confidence post-processing per ner_worker.py:185-211 (base 0.8,
+0.1 capitalized, +0.05 multiword, cap 1.0) and the label→standard-type map
ner_worker.py:17-33.

Spark pattern (the reference's lazy per-worker singleton,
ner_worker.py:72-111): the model loads ONCE per executor python worker
(``functools.cache``) and is reused across tasks and Arrow batches of the
per-document text lane. Without spaCy the operator transparently produces
the mock path — same schema, same downstream pipeline — so installing the
model is a config change, not a code change.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

from ..reference_impl.ner import mock_ner
from ..schemas import MENTION_STRUCT
from .spans import _explode_per_doc

# spaCy label → standard lowercase type (ner_worker.py:17-33)
SPACY_TYPE_MAP = {
    "PERSON": "person", "ORG": "organization", "GPE": "location",
    "LOC": "location", "DATE": "date", "TIME": "time", "MONEY": "money",
    "PERCENT": "percent", "FAC": "facility", "PRODUCT": "product",
    "EVENT": "event", "WORK_OF_ART": "work", "LAW": "law",
    "LANGUAGE": "language", "NORP": "group",
}


def model_confidence(text: str) -> float:
    """ner_worker.py:185-211 heuristic: 0.8 +0.1 capitalized +0.05 multiword."""
    conf = 0.8
    if text and text[0].isupper():
        conf += 0.1
    if len(text.split()) > 1:
        conf += 0.05
    return min(conf, 1.0)


@functools.cache
def _load_spacy():
    """The en_core_web_sm spaCy pipeline, once per worker, or None when
    spaCy or the model is missing."""
    try:
        import spacy  # type: ignore

        return spacy.load("en_core_web_sm")
    except Exception:
        return None


def extract_mentions_model(docs: DataFrame) -> DataFrame:
    """Mentions of each doc's `extracted_text` via spaCy when importable,
    mock-NER otherwise (ner.py:63-65)."""
    schema = StructType(
        [StructField("url", StringType(), False)] + list(MENTION_STRUCT.fields)
    )

    def _mentions(text: str) -> list[dict]:
        nlp = _load_spacy()
        if nlp is None:
            return mock_ner(text)
        return [
            {
                "text": ent.text,
                "entity_type": SPACY_TYPE_MAP.get(ent.label_, "other"),
                "start_char": ent.start_char,
                "end_char": ent.end_char,
                "confidence": model_confidence(ent.text),
            }
            for ent in nlp(text).ents
        ]

    return _explode_per_doc(docs.select("url", "extracted_text"), _mentions, schema)
