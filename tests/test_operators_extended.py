"""Tests for timeline, graph, coreference, linking, multimodal."""

import datetime as dt

import pytest

from pyspark.sql import functions as F

from arkhammirror_spark.operators.coref import resolve_coref
from arkhammirror_spark.operators.graph import (
    PR_DIGITS,
    PR_ITERS,
    connected_components_distributed,
    ego_network,
    pagerank,
    pagerank_distributed,
)
from arkhammirror_spark.operators.linking import link_mentions
from arkhammirror_spark.operators.multimodal import (
    extract_image_features,
    sample_video_frames,
)
from arkhammirror_spark.operators.timeline import (
    detect_interval_conflicts,
    extract_timeline_events,
)
from arkhammirror_spark.reference_impl.coreference import resolve_coreferences
from arkhammirror_spark.reference_impl.ner import mock_ner


class TestTimeline:
    @pytest.fixture(scope="class")
    def events(self, spark):
        docs = spark.createDataFrame(
            [
                ("u1", "Signed 2024-01-15 and again 2024-1-5T10:30:00 done."),
                ("u2", "Meeting January 15, 2024 then 3rd of March 1999."),
                ("u3", "Revenue grew in the third quarter of 2023 and the first quarter of 2021."),
                ("u4", "Back in the 1990s, during summer 2019 it rained."),
                ("u5", "Invalid 2024-13-45 must vanish."),
            ],
            "doc_id: string, t: string",
        )
        return extract_timeline_events(docs).cache()

    def test_iso(self, events):
        got = {
            (r["doc_id"], r["date_text"]): (r["date_start"], r["confidence"])
            for r in events.where("event_kind = 'iso'").collect()
        }
        assert got[("u1", "2024-01-15")] == (dt.date(2024, 1, 15), 0.99)
        assert got[("u1", "2024-1-5T10:30:00")][0] == dt.date(2024, 1, 5)
        assert not any(u == "u5" for u, _ in got)

    def test_natural(self, events):
        nat = {r["date_text"]: r["date_start"] for r in events.where(
            "event_kind like 'natural%'").collect()}
        assert nat["January 15, 2024"] == dt.date(2024, 1, 15)
        assert nat["3rd of March 1999"] == dt.date(1999, 3, 3)

    def test_quarter_season_decade(self, events):
        kinds = {r["event_kind"]: r for r in events.where("doc_id in ('u3','u4')").collect()}
        q = {r["date_text"]: r["date_start"] for r in events.where("event_kind='quarter'").collect()}
        assert q["third quarter of 2023"] == dt.date(2023, 7, 1)
        assert q["first quarter of 2021"] == dt.date(2021, 1, 1)
        s = {r["date_text"]: r["date_start"] for r in events.where("event_kind='season'").collect()}
        assert s["summer 2019"] == dt.date(2019, 6, 1)
        d = {r["date_text"]: r["date_start"] for r in events.where("event_kind='decade'").collect()}
        assert d["the 1990s"] == dt.date(1990, 1, 1)

    def test_conflict_gaps(self, spark, events):
        gaps = detect_interval_conflicts(events.where("doc_id = 'u1'")).collect()
        assert len(gaps) == 1
        assert gaps[0]["gap_days"] == 10


class TestGraph:
    @pytest.fixture(scope="class")
    def edges(self, spark):
        rows = [
            ("a", "b", 5), ("b", "c", 3), ("a", "c", 2),  # triangle
            ("x", "y", 4),  # separate component
        ]
        return spark.createDataFrame(
            rows, "entity_a: string, entity_b: string, co_occurrence_count: long"
        ).cache()

    def test_pagerank_sums_to_one(self, spark, edges):
        pr = pagerank(edges)
        assert abs(sum(pr.values()) - 1.0) < 1e-6
        # the triangle+pair graph is degree-regular per component → uniform
        assert all(abs(v - 0.2) < 1e-9 for v in pr.values())
        star = spark.createDataFrame(
            [("hub", x, 1) for x in ("s1", "s2", "s3")],
            "entity_a: string, entity_b: string, co_occurrence_count: long",
        )
        pr2 = pagerank(star)
        assert pr2["hub"] > pr2["s1"]
        # the float driver iteration at the same iteration count is the
        # reference for pagerank_distributed's fixed-point ranks. Each round
        # rounds a rank by half a unit of 10^-PR_DIGITS and truncates each
        # contribution by under one unit; on these graphs (degree ≤ 3) the
        # PR_ITERS = 3 rounds accumulate under 10 units at the star's hub
        bound = PR_ITERS * 4 * 10.0**-PR_DIGITS
        for g in (edges, star):
            ref = pagerank(g, iterations=PR_ITERS)
            got = {r["name"]: r["rank"] for r in pagerank_distributed(g).collect()}
            assert got.keys() == ref.keys()
            assert all(abs(got[k] - ref[k]) < bound for k in ref)

    def test_components_distributed_matches(self, spark, edges):
        dist = {
            r["name"]: r["component"]
            for r in connected_components_distributed(edges).collect()
        }
        assert dist["a"] == dist["b"] == dist["c"] == "a"
        assert dist["x"] == dist["y"] == "x"

    def test_components_driver_fastpath_matches_distributed(self, spark):
        """The small-graph union-find fast path and the distributed
        min-label loop must produce identical (name, component) labels on
        a chain-heavy random graph (chains exercise the pointer-doubling
        shortcut; driver_cap below the edge count forces the loop)."""
        import random

        rng = random.Random(11)
        rows = []
        # three long chains (diameter >> 1) plus random cross links
        for c in range(3):
            ns = [f"c{c}_{i:02d}" for i in range(20)]
            rows += [(ns[i], ns[i + 1]) for i in range(19)]
        all_nodes = sorted({n for r in rows for n in r})
        for _ in range(15):
            a, b = rng.sample(all_nodes, 2)
            rows.append((a, b))
        edges = spark.createDataFrame(
            rows, "entity_a: string, entity_b: string"
        )
        fast = {
            r["name"]: r["component"]
            for r in connected_components_distributed(edges).collect()
        }
        dist = {
            r["name"]: r["component"]
            for r in connected_components_distributed(
                edges, driver_cap=None
            ).collect()
        }
        assert fast == dist
        forced = {
            r["name"]: r["component"]
            for r in connected_components_distributed(
                edges, driver_cap=10
            ).collect()
        }
        assert forced == dist

    def test_components_self_loop_only_node_both_paths(self, spark):
        """Regression: a node appearing ONLY in a self-loop edge must get
        its own component on BOTH the driver union-find fast path and the
        distributed min-label path — output must not depend on which ran."""
        edges = spark.createDataFrame(
            [("a", "b"), ("solo", "solo"), ("b", "a")],
            "entity_a: string, entity_b: string",
        )
        fast = {
            r["name"]: r["component"]
            for r in connected_components_distributed(edges).collect()
        }
        dist = {
            r["name"]: r["component"]
            for r in connected_components_distributed(
                edges, driver_cap=None
            ).collect()
        }
        assert fast == dist
        assert fast["solo"] == "solo"
        assert fast["a"] == fast["b"] == "a"

    def test_betweenness_distributed_matches_driver_side(self, spark):
        """Source-parallel betweenness must give the exact per-node scores
        of graph_algorithms.betweenness_centrality (same per-source transit
        enumeration, distributed over sources) on a graph with real interior
        nodes — a path-with-branches fixture, no score ties."""
        import random

        from arkhammirror_spark.operators.graph import betweenness_distributed
        from arkhammirror_spark.operators.graph_algorithms import (
            betweenness_centrality,
        )

        rng = random.Random(5)
        nodes = [f"n{i:02d}" for i in range(12)]
        pairs = {(nodes[i], nodes[i + 1]) for i in range(11)}  # path spine
        while len(pairs) < 18:
            a, b = rng.sample(nodes, 2)
            if a > b:
                a, b = b, a
            pairs.add((a, b))
        edge_rows = [(a, b, 1) for a, b in sorted(pairs)]
        edges = spark.createDataFrame(
            edge_rows,
            "entity_a: string, entity_b: string, co_occurrence_count: long",
        )
        driver = {r["node"]: r["score"] for r in
                  betweenness_centrality(edge_rows, limit=100)}
        dist = {r["node"]: r["score"] for r in
                betweenness_distributed(edges).collect()}
        # the top 10 of the 12 nodes, each with the driver's score
        assert len(dist) == 10
        for node, score in dist.items():
            assert abs(driver[node] - score) < 1e-9, node
        rest = [s for n, s in driver.items() if n not in dist]
        assert max(rest) <= min(dist.values()) + 1e-9

    def test_label_propagation_separates_cliques(self, spark):
        """Two 4-cliques joined by one bridge edge must resolve into two
        communities matching the cliques, deterministically."""
        from arkhammirror_spark.operators.graph import (
            label_propagation_communities,
        )

        def clique(prefix):
            names = [f"{prefix}{i}" for i in range(4)]
            return [(a, b, 1) for i, a in enumerate(names)
                    for b in names[i + 1:]]

        rows = clique("a") + clique("b") + [("a0", "b0", 1)]
        edges = spark.createDataFrame(
            rows, "entity_a: string, entity_b: string, co_occurrence_count: long"
        )
        got = {r["name"]: r["community"]
               for r in label_propagation_communities(edges).collect()}
        a_comms = {got[f"a{i}"] for i in range(4)}
        b_comms = {got[f"b{i}"] for i in range(4)}
        assert len(a_comms) == 1 and len(b_comms) == 1
        assert a_comms != b_comms
        # deterministic across reruns
        again = {r["name"]: r["community"]
                 for r in label_propagation_communities(edges).collect()}
        assert again == got

    def test_label_propagation_pair_converges(self, spark):
        """The classic sync-LPA oscillation case (one edge): the self-label
        damping + smaller-label tie-break must converge, not swap forever."""
        from arkhammirror_spark.operators.graph import (
            label_propagation_communities,
        )

        edges = spark.createDataFrame(
            [("x", "y", 1)],
            "entity_a: string, entity_b: string, co_occurrence_count: long",
        )
        got = {r["name"]: r["community"]
               for r in label_propagation_communities(edges).collect()}
        assert got["x"] == got["y"] == "x"

    def test_betweenness_edge_cap_raises_before_collect(self, spark):
        """Above edge_cap the call must refuse (one bounded collect of at
        most edge_cap + 1 edges decides) instead of collecting an unbounded
        edge list to the driver."""
        import pytest

        from arkhammirror_spark.operators.graph import betweenness_distributed

        edges = spark.createDataFrame(
            [(f"a{i}", f"b{i}", 1) for i in range(10)],
            "entity_a: string, entity_b: string, co_occurrence_count: long",
        )
        with pytest.raises(ValueError, match="edge_cap"):
            betweenness_distributed(edges, edge_cap=5)

    def test_betweenness_auto_sampling_above_node_threshold(self, spark):
        """Graphs past auto_sample_above nodes take the Brandes–Pich sampled
        path automatically — identical to asking for that sample explicitly."""
        import random

        from arkhammirror_spark.operators.graph import betweenness_distributed

        rng = random.Random(11)
        nodes = [f"n{i:02d}" for i in range(16)]
        pairs = {(nodes[i], nodes[i + 1]) for i in range(15)}
        while len(pairs) < 24:
            a, b = rng.sample(nodes, 2)
            if a > b:
                a, b = b, a
            pairs.add((a, b))
        edges = spark.createDataFrame(
            [(a, b, 1) for a, b in sorted(pairs)],
            "entity_a: string, entity_b: string, co_occurrence_count: long",
        )
        auto = {(r["node"], round(r["score"], 9)) for r in
                betweenness_distributed(edges, auto_sample_above=5).collect()}
        explicit = {(r["node"], round(r["score"], 9)) for r in
                    betweenness_distributed(edges, sample_sources=5).collect()}
        assert auto == explicit

    def test_betweenness_distributed_sampled_estimator(self, spark):
        from arkhammirror_spark.operators.graph import betweenness_distributed

        # star: hub transits every spoke pair; spokes transit nothing
        star = spark.createDataFrame(
            [("hub", f"s{i}", 1) for i in range(6)],
            "entity_a: string, entity_b: string, co_occurrence_count: long",
        )
        out = {r["node"]: r for r in
               betweenness_distributed(star, sample_sources=3).collect()}
        assert out["hub"]["rank"] == 1
        assert out["hub"]["score"] > 0
        for k, r in out.items():
            if k != "hub":
                assert r["score"] == 0.0

    def test_ego(self, spark, edges):
        sub = ego_network(edges, "a").collect()
        assert {(r["entity_a"], r["entity_b"]) for r in sub} == {
            ("a", "b"), ("b", "c"), ("a", "c")
        }


class TestCoref:
    TEXT = "John Smith said he would resign. Acme Corp claimed it was fine."

    def test_matches_reference_impl(self, spark):
        text = self.TEXT
        docs = spark.createDataFrame(
            [("u1", text), ("u2", ""), ("u3", None)],
            "url: string, extracted_text: string",
        )
        got = {
            (r["url"], r["pronoun"], r["resolved_to"])
            for r in resolve_coref(docs).collect()
        }
        expected = {
            ("u1", p, e) for p, e in resolve_coreferences(text, mock_ner(text)).items()
        }
        assert got == expected
        assert ("u1", "he", "John Smith") in got

    def test_keyed_by_the_first_column(self, spark):
        """The query side keys by a bigint doc_id under any text column name."""
        docs = spark.createDataFrame([(7, self.TEXT)], "doc_id: bigint, t: string")
        out = resolve_coref(docs)
        assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
            ("doc_id", "bigint"), ("pronoun", "string"), ("resolved_to", "string"),
        ]
        assert ("he", "John Smith") in {
            (r["pronoun"], r["resolved_to"]) for r in out.collect() if r["doc_id"] == 7
        }


def _lane_extractors() -> dict:
    """Every reference function the per-document explode lane
    (spans._explode_per_doc) applies, called the way its callers call it."""
    from arkhammirror_spark.operators.embed_model import fake_embedding
    from arkhammirror_spark.reference_impl.chunker import chunk_fixed, chunk_sentences
    from arkhammirror_spark.reference_impl.claims import extract_claims
    from arkhammirror_spark.reference_impl.dates import (
        extract_iso_dates,
        extract_relative_dates,
    )
    from arkhammirror_spark.reference_impl.frame_chunks import (
        STRATEGIES,
        chunk_paragraph,
        chunk_with_strategy,
    )
    from arkhammirror_spark.reference_impl.relations import extract_relations
    from arkhammirror_spark.reference_impl.semantic_chunker import chunk_semantic

    fns = {
        "mock_ner": mock_ner,
        "extract_iso_dates": extract_iso_dates,
        "extract_relative_dates": extract_relative_dates,
        "extract_relations": lambda t: extract_relations(t, mock_ner(t)),
        "extract_claims": extract_claims,
        "chunk_fixed": lambda t: chunk_fixed(t, chunk_size=100, overlap=20),
        "chunk_sentences": lambda t: chunk_sentences(t, chunk_size=120),
        "chunk_paragraph": lambda t: chunk_paragraph(t, chunk_size=200),
        "resolve_coreferences": lambda t: resolve_coreferences(t, mock_ner(t)),
        "chunk_semantic": lambda t: chunk_semantic(
            t, lambda sents: [fake_embedding(x) for x in sents]
        ),
    }
    for strategy in STRATEGIES:
        fns[f"chunk_with_strategy[{strategy}]"] = (
            lambda t, s=strategy: chunk_with_strategy(t, s)
        )
    return fns


@pytest.mark.parametrize("name", sorted(_lane_extractors()))
def test_lane_extractors_return_nothing_on_empty_text(name):
    """The lane skips null and empty texts. That equals calling the
    extractor on `t or ""` only while each returns an empty result on ""."""
    assert len(_lane_extractors()[name]("")) == 0


class TestLinking:
    def test_exact_then_fuzzy_then_none(self, spark):
        mentions = spark.createDataFrame(
            [("u1", "Acme Corp"), ("u2", "Acme Corpx"), ("u3", "Zzyzx Ltd")],
            "url: string, text: string",
        )
        canon = spark.createDataFrame(
            [("acme corp", "C1"), ("globex inc", "C2")],
            "name_lower: string, canonical_id: string",
        )
        got = {r["url"]: (r["canonical_id"], r["link_reason"]) for r in
               link_mentions(mentions, canon).collect()}
        assert got["u1"] == ("C1", "exact_match")
        assert got["u2"] == ("C1", "fuzzy_match")
        assert got["u3"] == (None, "no_match")


def _gradient_rgb(w=12, h=8):
    import numpy as np

    x = np.arange(w, dtype=np.uint8)
    r = np.tile(x * 20, (h, 1))
    g = np.tile((np.arange(h, dtype=np.uint8) * 30)[:, None], (1, w))
    b = np.full((h, w), 7, dtype=np.uint8)
    return np.stack([r, g, b], axis=2)


class TestMultimodal:
    @pytest.fixture(scope="class")
    def media(self, spark):
        from arkhammirror_spark.operators.multimodal import (
            MEDIA_SCHEMA,
            encode_bmp,
            encode_png,
        )

        rows = [
            ("m1", "image", encode_png(_gradient_rgb()), "image/png",
             None, None, None),
            ("mb", "image", encode_bmp(_gradient_rgb()), "image/bmp",
             None, None, None),
            ("mj", "image", b"\x89PNGfake1", "image/png", None, None, None),
            ("m2", "image", None, "image/png", None, None, None),  # poison
            ("v1", "video", b"\x00fakevid", "video/mp4", None, None, 5.0),
            # no duration: no frames, not a failed task
            ("v2", "video", b"\x00fakevid2", "video/mp4", None, None, None),
        ]
        return spark.createDataFrame(rows, MEDIA_SCHEMA)

    def test_image_features_real_stdlib_decode(self, media):
        """Without PIL: PNG/BMP decode for REAL through the
        stdlib lane — true dims, grayscale-stat features; junk and null
        payloads quarantine."""
        got = {r["media_id"]: r for r in extract_image_features(media).collect()}
        for mid in ("m1", "mb"):
            assert got[mid]["error"] is None
            assert (got[mid]["width"], got[mid]["height"]) == (12, 8)
            assert len(got[mid]["feature"]) == 8
        # PNG and BMP of the same pixels → identical features
        assert got["m1"]["feature"] == got["mb"]["feature"]
        assert got["mj"]["error"] is not None  # junk: quarantined
        assert got["m2"]["error"] is not None  # null payload
        again = {r["media_id"]: r for r in extract_image_features(media).collect()}
        assert again["m1"]["feature"] == got["m1"]["feature"]

    def test_frame_sampling(self, media):
        frames = sample_video_frames(media).collect()
        assert len(frames) == 4  # the 5 s video, capped at four frames
        assert [f["frame_index"] for f in frames] == list(range(4))
        assert frames[1]["frame_ts_s"] == 1.0


def _textured_rgb(seed: int, edit: bool = False, mirror: bool = False):
    """Deterministic smooth cosine-mixture texture (pure-gradient images are
    a degenerate pHash case: ~56 of the 64 low-DCT coefficients are ~0, so
    bits sit on the median knife-edge)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    h, w = 48, 64
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.zeros((h, w))
    for _ in range(6):
        fx, fy = rng.uniform(0.5, 3, 2)
        p1, p2 = rng.uniform(0, 2 * np.pi, 2)
        img += rng.uniform(0.5, 1.5) * np.cos(
            2 * np.pi * fx * xx / w + p1
        ) * np.cos(2 * np.pi * fy * yy / h + p2)
    g = ((img - img.min()) / (img.max() - img.min()) * 255).astype(np.uint8)
    if edit:
        g = g.copy()
        g[0:3, 0:3] = 255
    if mirror:
        g = np.ascontiguousarray(g[:, ::-1])
    return np.stack([g, g, g], axis=2)


class TestPerceptualHash:
    @pytest.fixture(scope="class")
    def media(self, spark):
        from arkhammirror_spark.operators.multimodal import (
            MEDIA_SCHEMA,
            encode_png,
        )

        rows = [
            ("base", "image", encode_png(_textured_rgb(7)), "image/png",
             None, None, None),
            ("edit", "image", encode_png(_textured_rgb(7, edit=True)),
             "image/png", None, None, None),
            ("mirror", "image", encode_png(_textured_rgb(7, mirror=True)),
             "image/png", None, None, None),
            ("other", "image", encode_png(_textured_rgb(21)), "image/png",
             None, None, None),
            ("junk", "image", b"\x89PNGfake2", "image/png", None, None, None),
        ]
        return spark.createDataFrame(rows, MEDIA_SCHEMA)

    def test_hashes_deterministic_and_reference_format(self, media):
        from arkhammirror_spark.operators.phash import (
            hamming_distance_hex,
            image_perceptual_hashes,
        )

        got = {r["media_id"]: r for r in
               image_perceptual_hashes(media).collect()}
        for mid in ("base", "edit", "mirror", "other"):
            r = got[mid]
            assert r["error"] is None
            for h in ("ahash", "dhash", "phash"):
                assert len(r[h]) == 16 and int(r[h], 16) >= 0
                # hex and long views encode the same 64 bits
                assert int(r[h], 16) == r[f"{h}_sig"] % (1 << 64)
        assert got["junk"]["error"] is not None
        # a small local edit is hash-near; a mirror is hash-far
        near = hamming_distance_hex(got["base"]["phash"], got["edit"]["phash"])
        far = hamming_distance_hex(got["base"]["phash"], got["mirror"]["phash"])
        assert near <= 6 < far
        again = {r["media_id"]: r for r in
                 image_perceptual_hashes(media).collect()}
        assert again["base"]["phash"] == got["base"]["phash"]

    def test_image_neardup_banded_equals_bruteforce(self, media):
        from arkhammirror_spark.operators.phash import (
            hamming_distance_hex,
            image_neardup,
            image_perceptual_hashes,
        )

        pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                 for r in image_neardup(media).collect()}
        sigs = {r["media_id"]: r["phash"] for r in
                image_perceptual_hashes(media).collect()
                if r["error"] is None}
        ids = sorted(sigs)
        brute = {}
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                d = hamming_distance_hex(sigs[a], sigs[b])
                if d <= 6:
                    brute[(a, b)] = d
        assert pairs == brute
        assert ("base", "edit") in pairs  # the engineered near-dup survives


class TestModelNer:
    def test_falls_back_to_mock_without_spacy(self, spark):
        from arkhammirror_spark.operators.ner_model import (
            extract_mentions_model,
            model_confidence,
        )
        from arkhammirror_spark.reference_impl.ner import mock_ner

        text = "John Smith works at Acme Corp in New York."
        docs = spark.createDataFrame([("u1", text)], "url: string, extracted_text: string")
        got = [r["text"] for r in extract_mentions_model(docs).collect()]
        assert got == [m["text"] for m in mock_ner(text)]
        # ner_worker.py confidence heuristic
        assert abs(model_confidence("John Smith") - 0.95) < 1e-12
        assert model_confidence("acme") == 0.8
        assert model_confidence("Acme") == 0.9


class TestEmbedModel:
    def test_fake_embedding_deterministic_unit(self):
        from arkhammirror_spark.operators.embed_model import fake_embedding

        a = fake_embedding("hello world")
        b = fake_embedding("hello world")
        c = fake_embedding("other text")
        assert a == b and a != c and len(a) == 64
        assert abs(sum(x * x for x in a) - 1.0) < 1e-9

    def test_embeddings_feed_similarity_ops(self, spark):
        """End-to-end: generated embeddings flow into the ANN/top-k path."""
        from arkhammirror_spark.operators.embed_model import fake_embedding
        from arkhammirror_spark.operators.similarity import brute_force_topk

        emb = spark.createDataFrame(
            [(i, fake_embedding(f"text number {i}")) for i in range(20)],
            "vec_id: long, embedding: array<double>",
        )
        qv = fake_embedding("text number 7")
        top = brute_force_topk(emb, qv, k=1).collect()
        assert top[0]["vec_id"] == 7  # exact self-match wins


class TestLineDedup:
    def test_cross_doc_boilerplate_removed_keep_first(self, spark):
        from arkhammirror_spark.operators.dedup import dedup_lines

        footer = "subscribe to our newsletter today"
        docs = spark.createDataFrame(
            [
                (1, f"unique first document body line\n{footer}\nok"),
                (2, f"different second document body line\n{footer}"),
                (3, f"third body line entirely its own\n{footer}"),
            ],
            "doc_id: long, text: string",
        )
        got = {r["doc_id"]: r["text"] for r in dedup_lines(docs).collect()}
        assert footer in got[1]          # first occurrence kept
        assert footer not in got[2]
        assert footer not in got[3]
        assert "ok" in got[1]            # short line exempt (min_chars)
        assert "different second" in got[2]

    def test_within_doc_duplicate_also_deduped(self, spark):
        from arkhammirror_spark.operators.dedup import dedup_lines

        line = "a repeated paragraph of content"
        docs = spark.createDataFrame(
            [(1, f"{line}\nmiddle separator line here\n{line}")],
            "doc_id: long, text: string",
        )
        got = dedup_lines(docs).collect()[0]["text"]
        assert got.count(line) == 1

    def test_ranking_windows_keyed_by_raw_line_not_hash_alone(self, spark):
        """Collision safety: at 10^12 lines, distinct lines colliding on
        xxhash64 are expected (~n^2/2^65 pairs); the ranking windows must
        partition on (hash, line) so a collision can never merge two
        distinct lines into one dedup group. A real 64-bit collision can't
        be synthesized in a test, so assert the window spec structurally."""
        from arkhammirror_spark.operators.dedup import dedup_lines

        docs = spark.createDataFrame(
            [(1, "some document body line content")], "doc_id: long, text: string"
        )
        plan = dedup_lines(docs)._jdf.queryExecution().analyzed().toString()
        specs = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
        assert specs, plan
        for ln in specs:
            # analyzer projects xxhash64(line) to _w0; the raw line column
            # must still appear as a second partition key in the spec
            head = ln.split("specifiedwindowframe", 1)[0]
            assert ", line#" in head, ln


class TestCanonicalUrls:
    CASES = [
        ("HTTP://Example.COM/Path/Q", "http://example.com/Path/Q"),
        ("https://h.io/a#frag", "https://h.io/a"),
        ("http://h.io:80/a", "http://h.io/a"),
        ("https://h.io:443/a?x=1", "https://h.io/a?x=1"),
        ("http://h.io:8080/a", "http://h.io:8080/a"),  # non-default kept
        ("https://h.io/p?utm_source=tw&x=1", "https://h.io/p?x=1"),
        ("https://h.io/p?x=1&utm_campaign=c&fbclid=f", "https://h.io/p?x=1"),
        ("https://h.io/p?utm_a=1&utm_b=2", "https://h.io/p"),
        ("https://h.io/a/b/", "https://h.io/a/b"),
        ("https://h.io/", "https://h.io/"),  # root slash kept
        ("https://h.io/a/?x=1", "https://h.io/a?x=1"),
        ("  https://h.io/a  ", "https://h.io/a"),
    ]

    def test_canonical_forms(self, spark):
        from arkhammirror_spark.operators.urls import with_canonical_url

        df = spark.createDataFrame(
            [(u,) for u, _ in self.CASES], "url: string"
        )
        got = {r["url"]: r["canonical_url"]
               for r in with_canonical_url(df).collect()}
        for raw, want in self.CASES:
            assert got[raw] == want, (raw, got[raw], want)

    def test_dedup_groups_variants(self, spark):
        from arkhammirror_spark.operators.urls import dedup_canonical_urls

        df = spark.createDataFrame(
            [("HTTP://A.io/p",), ("http://a.io/p#x",), ("http://a.io:80/p",),
             ("http://b.io/q",)],
            "url: string",
        )
        got = {r["canonical_url"]: r for r in dedup_canonical_urls(df).collect()}
        assert got["http://a.io/p"]["n_variants"] == 3
        assert got["http://a.io/p"]["keeper_url"] == "HTTP://A.io/p"
        assert got["http://b.io/q"]["n_variants"] == 1


class TestTemporalJoins:
    def _frames(self, spark):
        import datetime as dt

        T = dt.datetime
        quotes = spark.createDataFrame(
            [("k1", T(2026, 1, 1, 10, 0), 100.0),
             ("k1", T(2026, 1, 1, 10, 5), 101.0),
             ("k1", T(2026, 1, 1, 10, 9), 102.0),
             ("k2", T(2026, 1, 1, 10, 2), 50.0)],
            "key: string, qts: timestamp_ntz, price: double",
        )
        trades = spark.createDataFrame(
            [("k1", T(2026, 1, 1, 10, 3), "t1"),   # after 10:00 quote
             ("k1", T(2026, 1, 1, 10, 5), "t2"),   # ties the 10:05 quote
             ("k1", T(2026, 1, 1, 9, 59), "t0"),   # before any quote
             ("k2", T(2026, 1, 1, 11, 0), "t3")],
            "key: string, tts: timestamp_ntz, trade_id: string",
        )
        return quotes, trades

    def test_asof_join_latest_at_or_before(self, spark):
        from arkhammirror_spark.operators.temporal import asof_join

        quotes, trades = self._frames(spark)
        got = {r["trade_id"]: r for r in
               asof_join(trades, quotes, "key", "tts", "qts", ["price"]).collect()}
        assert got["t1"]["right_price"] == 100.0
        assert got["t2"]["right_price"] == 101.0   # ties match (<=)
        assert got["t0"]["right_price"] is None    # nothing precedes
        assert got["t3"]["right_price"] == 50.0

    def test_range_join_equals_naive(self, spark):
        import datetime as dt
        import random

        from pyspark.sql import functions as F

        from arkhammirror_spark.operators.temporal import range_join

        rng = random.Random(3)
        base = dt.datetime(2026, 1, 1)
        points = [(f"k{rng.randrange(3)}",
                   base + dt.timedelta(minutes=rng.randrange(0, 3000)), i)
                  for i in range(200)]
        ivals = []
        for j in range(40):
            s = base + dt.timedelta(minutes=rng.randrange(0, 2800))
            ivals.append((f"k{rng.randrange(3)}", s,
                          s + dt.timedelta(minutes=rng.randrange(5, 400)), j))
        pdf = spark.createDataFrame(
            points, "key: string, ts: timestamp_ntz, pid: long")
        idf = spark.createDataFrame(
            ivals, "key: string, s: timestamp_ntz, e: timestamp_ntz, iid: long")
        got = {(r["pid"], r["iid"]) for r in
               range_join(pdf, idf, "key", "ts", "s", "e").collect()}
        naive = {(r["pid"], r["iid"]) for r in
                 pdf.join(idf, "key").where(
                     (F.col("ts") >= F.col("s")) & (F.col("ts") <= F.col("e"))
                 ).collect()}
        assert got == naive and len(got) > 50

    def test_range_join_no_nested_loop(self, spark):
        import datetime as dt

        from arkhammirror_spark.operators.temporal import range_join

        T = dt.datetime
        pdf = spark.createDataFrame(
            [("a", T(2026, 1, 1, 1), 1)], "key: string, ts: timestamp_ntz, pid: long")
        idf = spark.createDataFrame(
            [("a", T(2026, 1, 1, 0), T(2026, 1, 1, 2), 1)],
            "key: string, s: timestamp_ntz, e: timestamp_ntz, iid: long")
        plan = range_join(pdf, idf, "key", "ts", "s", "e")._jdf.queryExecution(
        ).executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


class TestPii:
    def test_detect_counts_and_luhn(self, spark):
        from arkhammirror_spark.operators.pii import detect_pii

        docs = spark.createDataFrame(
            [
                (1, "reach alice@example.com or bob.smith@mail.example.org now"),
                (2, "call (415) 555-2671 or +1 415-555-0100 today"),
                (3, "ssn 123-45-6789 leaked from host 192.168.10.20"),
                (4, "card 4111 1111 1111 1111 works, 4111-1111-1111-1112 fails"),
                (5, "a clean document with no sensitive content at all"),
            ],
            "doc_id: long, text: string",
        )
        got = {r["doc_id"]: r for r in detect_pii(docs).collect()}
        assert got[1]["n_email"] == 2 and got[1]["has_pii"]
        assert got[2]["n_phone"] == 2
        assert got[3]["n_ssn"] == 1 and got[3]["n_ipv4"] == 1
        # Luhn separates the valid test number from its off-by-one sibling
        assert got[4]["n_card_valid"] == 1
        assert got[5]["has_pii"] is False

    def test_digit_runs_do_not_leak_into_phone_counts(self, spark):
        from arkhammirror_spark.operators.pii import detect_pii

        docs = spark.createDataFrame(
            [(1, "a 16 digit run 4111111111111111 is a card, not a phone")],
            "doc_id: long, text: string",
        )
        r = detect_pii(docs).collect()[0]
        assert r["n_phone"] == 0 and r["n_card_valid"] == 1


class TestGopherQuality:
    def test_each_rule_branch(self, spark):
        from arkhammirror_spark.operators.quality import gopher_quality

        good = ("the quick brown fox jumps over that lazy dog and then have "
                "some words with more content to clear fifty words easily ") * 3
        docs = spark.createDataFrame(
            [
                (1, good),
                (2, "too short to pass the word count rule here"),
                (3, good + " ##### ##### ##### ##### ##### ##### #####"),
                (4, good + ("\n• bullet" * 40)),
                (5, good.replace("the", "000").replace("that", "111")
                     .replace("and", "222").replace("have", "333")
                     .replace("with", "444")),  # kills stopwords
            ],
            "doc_id: long, text: string",
        )
        got = {r["doc_id"]: r for r in gopher_quality(docs).collect()}
        assert got[1]["passes"] is True
        assert got[2]["passes"] is False and got[2]["n_words"] < 50
        assert got[3]["passes"] is False and got[3]["symbol_word_ratio"] > 0.1
        assert got[4]["passes"] is False and got[4]["bullet_line_frac"] > 0.9
        assert got[5]["passes"] is False and got[5]["n_stop_hits"] < 2


class TestGopherRepetition:
    def test_repetition_signals(self, spark):
        from arkhammirror_spark.operators.quality import gopher_repetition

        loops = ("buy now " * 30).strip()  # one 2-gram dominates
        dup_lines = "unique opener line here\n" + "same line again\n" * 4
        # long enough that one unique n-gram is a small char fraction —
        # Gopher applies repetition rules after the 50-word minimum
        clean = " ".join(f"word{i} token{i*7%97}" for i in range(40))
        docs = spark.createDataFrame(
            [(1, loops), (2, dup_lines), (3, clean)],
            "doc_id: long, text: string",
        )
        got = {r["doc_id"]: r for r in gopher_repetition(docs).collect()}
        assert got[1]["top_2gram_frac"] > 0.5 and got[1]["passes"] is False
        assert got[2]["dup_line_frac"] > 0.5 and got[2]["passes"] is False
        assert got[3]["passes"] is True
        assert got[3]["dup_line_frac"] == 0.0
        # a doc shorter than n words has zero gram fractions, not a crash
        tiny = spark.createDataFrame([(9, "two words")],
                                     "doc_id: long, text: string")
        r = gopher_repetition(tiny).collect()[0]
        assert r["dup_5gram_frac"] == 0.0 and r["top_3gram_frac"] == 0.0


class TestAudioFeatures:
    @staticmethod
    def _wav(freq=440.0, rate=8000, seconds=0.5, channels=1, bits=16):
        import math
        import struct

        n = int(rate * seconds)
        frames = b""
        for i in range(n):
            v = int(32767 * 0.5 * math.sin(2 * math.pi * freq * i / rate))
            frames += struct.pack("<h", v) * channels
        fmt = struct.pack("<HHIIHH", 1, channels, rate,
                          rate * channels * bits // 8, channels * bits // 8, bits)
        chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        chunks += b"data" + struct.pack("<I", len(frames)) + frames
        return b"RIFF" + struct.pack("<I", len(chunks)) + chunks

    def test_wav_decode_real(self, spark):
        from arkhammirror_spark.operators.multimodal import extract_audio_features

        media = spark.createDataFrame(
            [("a1", "audio", self._wav()), ("a2", "audio", b"not-audio"),
             ("i1", "image", b"png-ish")],
            "media_id: string, media_type: string, payload: binary",
        )
        rows = {r["media_id"]: r for r in extract_audio_features(media).collect()}
        assert set(rows) == {"a1", "a2"}  # image rows filtered out
        ok = rows["a1"]
        assert ok["error"] is None
        assert ok["sample_rate"] == 8000 and ok["channels"] == 1 and ok["bits"] == 16
        assert abs(ok["duration_s"] - 0.5) < 1e-6
        # a half-amplitude sine has rms ~ 0.5/sqrt(2) and peak ~ 0.5
        assert abs(ok["rms"] - 0.3535) < 0.01
        assert abs(ok["peak"] - 0.5) < 0.01
        assert rows["a2"]["error"] is not None  # quarantined, not fatal


class TestIvfAnn:
    def test_ivf_recall_on_planted_neardups(self, spark):
        """IVF with enough probes must recover the exact brute-force top-k on
        a corpus with planted near-duplicate structure."""
        from arkhammirror_spark.operators.embed_model import fake_embedding
        from arkhammirror_spark.operators.similarity import brute_force_topk, ivf_topk

        # 8 blocks of 10 near-identical vectors (anchor + tiny per-id tweak)
        rows = []
        for vid in range(80):
            anchor = fake_embedding(f"block{vid // 10}", dim=16)
            vec = [a + 0.001 * (vid % 10) * (((j + vid) % 5) - 2) for j, a in enumerate(anchor)]
            rows.append((vid, vec))
        emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
        qv = fake_embedding("block0", dim=16)

        brute = [r["vec_id"] for r in brute_force_topk(emb, qv, k=9).collect()]
        ivf = [r["vec_id"] for r in
               ivf_topk(emb, qv, k=9, n_probe=4).collect()]
        # block 0's members dominate the true top-9; 16 lists over 8 blocks
        # split a block over a few lists, which the query's 4 nearest
        # (the ann_ivf_topk part's probe count) cover
        assert set(brute) & set(range(10)) <= set(ivf)
        assert len(set(brute) & set(ivf)) >= 8

    def test_ivf_probes_prune_the_scan(self, spark):
        from arkhammirror_spark.operators.embed_model import fake_embedding
        from arkhammirror_spark.operators.similarity import ivf_topk

        rows = [(i, fake_embedding(f"v{i}", dim=16)) for i in range(60)]
        emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
        out = ivf_topk(emb, fake_embedding("v3", dim=16), k=60, n_probe=1)
        # with 1 of 16 lists probed, far fewer than all 60 rows survive the scan
        n = out.count()
        assert 0 < n < 40

    def test_fit_once_probe_many(self, spark):
        """Repeated ANN queries reuse ONE KMeans fit: fit_ivf → N×ivf_probe,
        each probe matching the one-shot ivf_topk result (same seed)."""
        from arkhammirror_spark.operators.embed_model import fake_embedding
        from arkhammirror_spark.operators.similarity import (
            fit_ivf,
            ivf_probe,
            ivf_topk,
        )

        rows = []
        for vid in range(80):
            anchor = fake_embedding(f"block{vid // 10}", dim=16)
            vec = [a + 0.001 * (vid % 10) * (((j + vid) % 5) - 2)
                   for j, a in enumerate(anchor)]
            rows.append((vid, vec))
        emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
        centers, assigned = fit_ivf(emb)
        assigned = assigned.localCheckpoint(eager=True)  # materialized lists
        assert len(centers) == 16 and len(centers[0]) == 16
        for block in ("block0", "block3"):
            qv = fake_embedding(block, dim=16)
            reused = [r["vec_id"] for r in
                      ivf_probe(assigned, centers, qv, k=9, n_probe=2).collect()]
            oneshot = [r["vec_id"] for r in
                       ivf_topk(emb, qv, k=9, n_probe=2).collect()]
            assert reused == oneshot
