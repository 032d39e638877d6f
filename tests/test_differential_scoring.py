"""Differential tests for the round-4 scoring lanes: run the ACTUAL
reference code (loaded by file path from /root/reference) side-by-side
with the Spark operators on randomized inputs.

Float-boundary note: the reference accumulates float products and applies
int() truncation; the Spark lanes carry centi-integers and floor-divide.
When the EXACT result sits on an integer boundary the reference's float
can land one ulp below it and truncate one lower — a reference quirk, not
an engine divergence — so integer-score comparisons allow a ±1 window
exactly on boundaries and demand equality everywhere else.
"""

from __future__ import annotations

import importlib.util
import os
import random
import sys
import types

import pytest

REF = "/root/reference/packages"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference tree not available"
)


def _load(modname: str, path: str, stubs: dict | None = None):
    if modname in sys.modules:
        return sys.modules[modname]
    for name, mod in (stubs or {}).items():
        sys.modules.setdefault(name, mod)
    parent = modname.rsplit(".", 1)[0]
    if "." in modname and parent not in sys.modules:
        pkg = types.ModuleType(parent)
        pkg.__path__ = []
        sys.modules[parent] = pkg
    spec = importlib.util.spec_from_file_location(modname, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[modname] = mod
    spec.loader.exec_module(mod)
    return mod


def _structlog_stub():
    stub = types.ModuleType("structlog")

    class _Log:
        def __getattr__(self, name):
            return lambda *a, **k: None

    stub.get_logger = lambda *a, **k: _Log()
    return stub


@pytest.fixture(scope="module")
def ach_ref():
    base = f"{REF}/arkham-shard-ach/arkham_shard_ach"
    models = _load("arkham_shard_ach.models", f"{base}/models.py")
    sys.modules["arkham_shard_ach"].models = models
    scoring = _load("arkham_shard_ach.scoring", f"{base}/scoring.py")
    return models, scoring


@pytest.fixture(scope="module")
def cred_ref():
    base = f"{REF}/arkham-shard-credibility/arkham_shard_credibility"
    return _load("cred_models_ref", f"{base}/models.py")


@pytest.fixture(scope="module")
def phash_ref():
    base = f"{REF}/arkham-shard-media-forensics/arkham_shard_media_forensics"
    pil = types.ModuleType("PIL")
    pil.Image = types.ModuleType("PIL.Image")
    return _load(
        "phash_service_ref",
        f"{base}/services/perceptual_hash.py",
        stubs={"structlog": _structlog_stub(), "PIL": pil},
    )


class TestAchDifferential:
    def _random_matrix(self, models, rng):
        ratings_sym = ["++", "+", "N", "-", "--", "N/A"]
        m = models.ACHMatrix(id="m", title="t")
        n_h, n_e = rng.randint(2, 5), rng.randint(3, 9)
        m.hypotheses = [
            models.Hypothesis(id=f"h{j}", matrix_id="m", title=f"H{j}")
            for j in range(n_h)
        ]
        m.evidence = [
            models.Evidence(
                id=f"e{i}", matrix_id="m", description=f"E{i}",
                credibility=rng.randrange(25, 101) / 100,
                relevance=rng.randrange(25, 101) / 100,
            )
            for i in range(n_e)
        ]
        m.ratings = [
            models.Rating(
                matrix_id="m", evidence_id=f"e{i}", hypothesis_id=f"h{j}",
                rating=models.ConsistencyRating(rng.choice(ratings_sym)),
                confidence=rng.randrange(25, 101) / 100,
            )
            for i in range(n_e)
            for j in range(n_h)
        ]
        return m

    def test_scores_match_reference_on_random_matrices(self, spark, ach_ref):
        from arkhammirror_spark.operators.ach import ach_scores

        models, scoring = ach_ref
        rng = random.Random(17)
        for trial in range(6):
            m = self._random_matrix(models, rng)
            ref_scores = {
                s.hypothesis_id: s
                for s in scoring.ACHScorer.calculate_scores(m)
            }
            ev = {e.id: e for e in m.evidence}
            rows = [
                ("m", r.hypothesis_id, r.evidence_id, r.rating.value,
                 round(ev[r.evidence_id].credibility * 100),
                 round(ev[r.evidence_id].relevance * 100),
                 round(r.confidence * 100))
                for r in m.ratings
            ]
            df = spark.createDataFrame(
                rows,
                "matrix_id: string, hypothesis_id: string, "
                "evidence_id: string, rating: string, cred_centi: int, "
                "rel_centi: int, conf_centi: int",
            )
            got = {r["hypothesis_id"]: r for r in ach_scores(df).collect()}
            assert set(got) == set(ref_scores)
            keys = []
            for hid, ref in ref_scores.items():
                g = got[hid]
                assert g["consistency_score"] == ref.consistency_score, hid
                assert g["inconsistency_count"] == ref.inconsistency_count
                assert g["evidence_count"] == ref.evidence_count
                assert abs(g["weighted_score"] - ref.weighted_score) < 1e-9
                assert abs(g["normalized_score"] - ref.normalized_score) < 1e-7
                keys.append((ref.inconsistency_count,
                             round(ref.weighted_score, 12)))
            if len(set(keys)) == len(keys):  # no rank ties possible
                for hid, ref in ref_scores.items():
                    assert got[hid]["rank"] == ref.rank, (trial, hid)


class TestCredibilityDifferential:
    def test_checklist_scores_match_reference(self, spark, cred_ref):
        from arkhammirror_spark.operators.credibility import checklist_scores

        models = cred_ref
        strengths = list(models.IndicatorStrength)
        rng = random.Random(23)
        for trial in range(10):
            inds = [
                models.DeceptionIndicator(
                    id=f"i{k}",
                    checklist=models.DeceptionChecklistType.MOM,
                    question="q",
                    strength=rng.choice(strengths),
                    confidence=rng.randrange(0, 101) / 100,
                )
                for k in range(rng.randint(1, 8))
            ]
            cl = models.DeceptionChecklist(
                checklist_type=models.DeceptionChecklistType.MOM,
                indicators=inds,
            )
            ref = cl.calculate_score()
            smap = {"none": 0, "weak": 25, "moderate": 50, "strong": 75,
                    "conclusive": 100}
            rows = [("s", "mom", smap[i.strength.value],
                     round(i.confidence * 100)) for i in inds]
            df = spark.createDataFrame(
                rows,
                "source_id: string, checklist: string, "
                "strength_score: int, conf_centi: int",
            )
            out = checklist_scores(df).collect()
            mine = out[0]["score"] if out else 0
            # boundary window (module docstring): exact total_centi landing
            # on a multiple of n_assessed*100 may truncate 1 lower in the
            # reference's float path
            assessed = [i for i in inds if i.strength.value != "none"]
            total_centi = sum(
                smap[i.strength.value] * round(i.confidence * 100)
                for i in assessed
            )
            boundary = assessed and total_centi % (len(assessed) * 100) == 0
            tol = 1 if boundary else 0
            assert abs(mine - ref) <= tol, (trial, mine, ref)

    def test_overall_score_and_risk_match_reference(self, spark, cred_ref):
        from arkhammirror_spark.operators.credibility import deception_overall

        models = cred_ref
        rng = random.Random(29)
        import datetime as dt

        for trial in range(10):
            scores = {c: rng.randrange(0, 101)
                      for c in ("mom", "pop", "moses", "eve")}
            a = models.DeceptionAssessment(
                id="a", source_type=models.SourceType.DOCUMENT, source_id="s"
            )
            now = dt.datetime(2023, 1, 1)
            a.mom_checklist = models.DeceptionChecklist(
                checklist_type=models.DeceptionChecklistType.MOM,
                overall_score=scores["mom"], completed_at=now)
            a.pop_checklist = models.DeceptionChecklist(
                checklist_type=models.DeceptionChecklistType.POP,
                overall_score=scores["pop"], completed_at=now)
            a.moses_checklist = models.DeceptionChecklist(
                checklist_type=models.DeceptionChecklistType.MOSES,
                overall_score=scores["moses"], completed_at=now)
            a.eve_checklist = models.DeceptionChecklist(
                checklist_type=models.DeceptionChecklistType.EVE,
                overall_score=scores["eve"], completed_at=now)
            ref = a.calculate_overall_score()
            df = spark.createDataFrame(
                [("s", c, v) for c, v in scores.items()],
                "source_id: string, checklist: string, score: int",
            )
            got = deception_overall(df).collect()[0]
            wsum = (35 * scores["mom"] + 15 * scores["pop"]
                    + 25 * scores["moses"] + 25 * scores["eve"])
            boundary = wsum % 100 == 0
            assert abs(got["deception_score"] - ref) <= (1 if boundary else 0)
            assert got["risk_level"] == a.get_risk_level(
                got["deception_score"]
            ).value


@pytest.fixture(scope="module")
def forensics_ref():
    base = f"{REF}/arkham-shard-provenance/arkham_shard_provenance"
    models = _load("arkham_shard_provenance.models", f"{base}/models.py")
    sys.modules["arkham_shard_provenance"].models = models
    forensics = _load(
        "arkham_shard_provenance.forensics", f"{base}/forensics.py"
    )
    return models, forensics


class TestIntegrityDifferential:
    def test_analyze_integrity_matches_reference(self, forensics_ref):
        """Randomized metadata states through the ACTUAL
        forensics.analyze_integrity vs this repo's port — status string,
        confidence, and finding-type sequence must agree."""
        import datetime as dt

        from arkhammirror_spark.operators.media_metadata import (
            analyze_integrity,
        )

        models, forensics = forensics_ref
        analyzer = forensics.MetadataForensicAnalyzer()
        rng = random.Random(41)
        softwares = [None, "darktable", "Adobe Photoshop", "gimp 2.10"]
        producers = [None, "LaTeX", "GPL Ghostscript", "pdftk server"]

        for _ in range(40):
            lane = rng.choice(["exif", "pdf", "office"])
            if lane == "exif":
                n_tags = rng.choice([0, 3, 8])
                orig = dt.datetime(2021, 6, 1, 9, 0, 0)
                delta = rng.choice([0, 30, 3600])
                digi = orig + dt.timedelta(seconds=delta)
                sw = rng.choice(softwares)
                exif = models.ExifData(
                    datetime_original=orig, datetime_digitized=digi,
                    software=sw,
                    raw_data={f"t{i}": i for i in range(n_tags)},
                )
                status, findings, conf = analyzer.analyze_integrity(exif=exif)
                meta = {
                    "n_exif_tags": n_tags,
                    "datetime_original": orig.strftime("%Y:%m:%d %H:%M:%S"),
                    "datetime_digitized": digi.strftime("%Y:%m:%d %H:%M:%S"),
                    "software": sw,
                }
                mine = analyze_integrity("jpeg", meta)
            elif lane == "pdf":
                created = dt.datetime(2023, 5, 10, 12, 0, 0)
                modified = created + dt.timedelta(
                    days=rng.choice([-100, 0, 100])
                )
                prod = rng.choice(producers)
                enc = rng.random() < 0.3
                pdf = models.PdfMetadata(
                    creation_date=created, modification_date=modified,
                    producer=prod, is_encrypted=enc,
                )
                status, findings, conf = analyzer.analyze_integrity(pdf=pdf)
                meta = {
                    "created": created.isoformat(),
                    "modified": modified.isoformat(),
                    "producer": prod, "is_encrypted": enc,
                }
                mine = analyze_integrity("pdf", meta)
            else:
                created = dt.datetime(2022, 3, 1, 10, 0, 0)
                modified = created + dt.timedelta(
                    days=rng.choice([-30, 0, 30])
                )
                rev = rng.choice([None, 1, 5, 150])
                office = models.OfficeMetadata(
                    created=created, modified=modified, revision=rev,
                )
                status, findings, conf = analyzer.analyze_integrity(
                    office=office
                )
                meta = {
                    "created": created.isoformat(),
                    "modified": modified.isoformat(),
                    "revision": rev,
                }
                mine = analyze_integrity("ooxml", meta)
            assert mine[0] == status.value, (lane, meta)
            assert abs(mine[1] - conf) < 1e-12, (lane, meta)
            assert mine[2] == [f.finding_type for f in findings], (lane, meta)


class TestProvenanceDifferential:
    def test_timeline_matches_reference(self, spark, forensics_ref):
        """build_timeline (forensics.py:567-675) vs the Spark
        metadata_timeline on equivalent states: same (event_type, ts,
        source, actor) multiset incl. the equal-timestamp suppressions."""
        import datetime as dt

        from arkhammirror_spark.operators.media_metadata import (
            METADATA_SCHEMA,
        )
        from arkhammirror_spark.operators.provenance import metadata_timeline

        models, forensics = forensics_ref
        analyzer = forensics.MetadataForensicAnalyzer()

        orig = dt.datetime(2021, 6, 1, 9, 0, 0)
        exif = models.ExifData(
            make="Canon", model="EOS", software="gimp",
            datetime_original=orig, datetime_digitized=orig,
            datetime_modified=dt.datetime(2021, 6, 2, 10, 0, 0),
        )
        ref_events = analyzer.build_timeline("j1", exif=exif)
        ref = sorted(
            (e.event_type, e.event_source, e.event_actor)
            for e in ref_events
        )

        row = {f.name: None for f in METADATA_SCHEMA.fields}
        row.update(
            media_id="j1", kind="jpeg", make="Canon", model="EOS",
            software="gimp",
            datetime_original="2021:06:01 09:00:00",
            datetime_digitized="2021:06:01 09:00:00",
            datetime_modified="2021:06:02 10:00:00",
            warnings=[], integrity_status="clean",
            integrity_confidence=1.0, integrity_findings=[],
        )
        meta = spark.createDataFrame([row], METADATA_SCHEMA)
        mine = sorted(
            (r["event_type"], r["event_source"], r["event_actor"])
            for r in metadata_timeline(meta).collect()
        )
        assert mine == ref  # digitized suppressed on both sides

    def test_relationships_match_reference_pairwise(self, spark, forensics_ref):
        """compare_documents (forensics.py:677-808) on every fixture pair
        vs the blocked-join operator: identical relationship type,
        confidence, and match score for every RELATED pair (the operator
        never emits unrelated pairs — they are the complement)."""
        from arkhammirror_spark.operators.media_metadata import (
            METADATA_SCHEMA,
        )
        from arkhammirror_spark.operators.provenance import (
            metadata_relationships,
        )

        models, forensics = forensics_ref
        analyzer = forensics.MetadataForensicAnalyzer()

        def scan(doc_id, exif=None, pdf=None):
            return models.MetadataForensicScan(
                id=doc_id, doc_id=doc_id, exif_data=exif, pdf_metadata=pdf
            )

        scans = {
            "j1": scan("j1", exif=models.ExifData(
                make="Canon", model="EOS", serial_number="SN-1")),
            "j2": scan("j2", exif=models.ExifData(
                make="Canon", model="EOS", serial_number="SN-1")),
            "j3": scan("j3", exif=models.ExifData(make="Nikon", model="D750")),
            "p1": scan("p1", pdf=models.PdfMetadata(
                author="Alice", creator="Word")),
            "p2": scan("p2", pdf=models.PdfMetadata(
                author="Alice", creator="Word")),
        }
        ids = sorted(scans)
        ref = {}
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                cmp_ = analyzer.compare_documents(scans[a], scans[b])
                if cmp_.relationship_type.value != "unrelated":
                    ref[(a, b)] = (cmp_.relationship_type.value,
                                   cmp_.confidence,
                                   round(cmp_.match_score, 9))

        rows = []
        for doc_id, s in scans.items():
            row = {f.name: None for f in METADATA_SCHEMA.fields}
            row.update(media_id=doc_id, warnings=[],
                       integrity_status="clean", integrity_confidence=1.0,
                       integrity_findings=[])
            if s.exif_data:
                row.update(kind="jpeg", make=s.exif_data.make,
                           model=s.exif_data.model,
                           serial_number=s.exif_data.serial_number)
            else:
                row.update(kind="pdf", author=s.pdf_metadata.author,
                           creator=s.pdf_metadata.creator)
            rows.append(row)
        meta = spark.createDataFrame(rows, METADATA_SCHEMA)
        mine = {(r["id_a"], r["id_b"]): (r["relationship_type"],
                                         r["confidence"],
                                         round(r["match_score"], 9))
                for r in metadata_relationships(meta).collect()}
        assert mine == ref


class TestPhashHelpersDifferential:
    def test_hex_pack_and_hamming_match_reference(self, phash_ref):
        from arkhammirror_spark.operators.phash import (
            _bits_to_hex_and_long,
            hamming_distance_hex,
        )

        svc = phash_ref.PerceptualHashService(frame=None)
        rng = random.Random(31)
        for _ in range(50):
            bits = [rng.random() < 0.5 for _ in range(64)]
            import numpy as np

            ref_hex = svc._bool_array_to_hex(np.array(bits))
            mine_hex, _ = _bits_to_hex_and_long(bits)
            assert mine_hex == ref_hex
        for _ in range(50):
            a = f"{rng.getrandbits(64):016x}"
            b = f"{rng.getrandbits(64):016x}"
            assert hamming_distance_hex(a, b) == svc.compute_hamming_distance(a, b)


class TestFullScanDifferential:
    def test_full_scan_composition_matches_reference(
        self, spark, forensics_ref, tmp_path
    ):
        """full_scan (forensics.py:810-889) with no extract branches
        (mime '') vs the Spark composition on an unknown-kind payload:
        identical md5/sha256/sha512, file size, integrity triple,
        timeline count, and completed status."""
        from arkhammirror_spark.operators.provenance import full_scan

        models, forensics = forensics_ref
        analyzer = forensics.MetadataForensicAnalyzer()
        data = b"not-a-known-container " * 40
        path = tmp_path / "blob.bin"
        path.write_bytes(data)
        ref = analyzer.full_scan("d1", str(path), data, mime_type="")

        df = spark.createDataFrame(
            [("d1", bytearray(data))], "media_id string, payload binary"
        )
        got = full_scan(df).collect()[0]
        assert got["file_hash_md5"] == ref.file_hash_md5
        assert got["file_hash_sha256"] == ref.file_hash_sha256
        assert got["file_hash_sha512"] == ref.file_hash_sha512
        assert got["file_size"] == ref.file_size
        assert got["integrity_status"] == ref.integrity_status.value
        assert got["integrity_confidence"] == ref.confidence_score
        assert got["n_timeline_events"] == len(ref.timeline_events)
        assert got["scan_status"] == ref.scan_status.value
        assert got["kind"] == "unknown"

    def test_full_scan_composes_metadata_and_timeline(self, spark):
        """EXIF-bearing JPEG through the composed scan: hash columns plus
        the SAME metadata/integrity/timeline the part operators produce,
        one UDF pass (plan shows a single ArrowEvalPython/mapInPandas)."""
        import hashlib

        from arkhammirror_spark.operators.media_metadata import (
            build_jpeg_exif,
        )
        from arkhammirror_spark.operators.provenance import full_scan

        jpg = build_jpeg_exif(
            make="Canon", model="EOS", software="gimp 2.10",
            datetime_original="2021:06:01 09:00:00",
            datetime_modified="2021:06:02 10:00:00",
        )
        df = spark.createDataFrame(
            [("j1", bytearray(jpg)), ("empty", None)],
            "media_id string, payload binary",
        )
        rows = {r["media_id"]: r for r in full_scan(df).collect()}
        j = rows["j1"]
        assert j["file_hash_sha256"] == hashlib.sha256(jpg).hexdigest()
        assert j["kind"] == "jpeg" and j["make"] == "Canon"
        assert j["scan_status"] == "completed"
        assert j["n_timeline_events"] >= 2  # captured + modified
        e = rows["empty"]
        assert e["scan_status"] == "failed"
        assert e["file_size"] == 0
        assert e["file_hash_md5"] == hashlib.md5(b"").hexdigest()
        plan = full_scan(df)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("mapInPandas") + plan.count("MapInPandas") <= 2
