"""Coreference resolution operator (E13).

Per-document sequential semantics (the pronoun scanner walks words left to
right carrying "last seen entity" state), so this is one of the two operators
that genuinely needs grouped pandas execution (SURVEY §2.8): the shared
per-document explode lane (``spans._explode_per_doc``) applying the
reference_impl scanner per document — still zero row-at-a-time Python at the
Spark level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

from ..reference_impl.coreference import resolve_coreferences
from ..reference_impl.ner import mock_ner
from .spans import _explode_per_doc


def resolve_coref(docs: DataFrame) -> DataFrame:
    """(key, pronoun, resolved_to) rows from a two-column (key, text) frame;
    mentions come from the mock-NER path (all PERSON — matching the
    reference's deterministic pipeline where the parse shard feeds NER output
    into the resolver)."""
    key = docs.schema.fields[0]
    schema = StructType(
        [
            StructField(key.name, key.dataType, False),
            StructField("pronoun", StringType(), False),
            StructField("resolved_to", StringType(), False),
        ]
    )
    return _explode_per_doc(
        docs,
        lambda t: [
            {"pronoun": p, "resolved_to": e}
            for p, e in resolve_coreferences(t, mock_ner(t)).items()
        ],
        schema,
    )
