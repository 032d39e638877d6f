"""Differential tests for the round-7 ACH/graph additions vs the ACTUAL
reference classes: ACHScorer.get_sensitivity_analysis, EvidenceAnalyzer
(assess_quality / identify_gaps / compare_evidence / suggest_evidence),
ArgumentationBuilder (build_from_ach_matrix + statuses), and
FlowAnalyzer (entity/relationship/aggregate flows)."""

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


def _load(modname: str, path: str):
    if modname in sys.modules:
        return sys.modules[modname]
    parent = modname.rsplit(".", 1)[0]
    if "." in modname and parent not in sys.modules:
        pkg = types.ModuleType(parent)
        pkg.__path__ = [os.path.dirname(path)]
        sys.modules[parent] = pkg
    spec = importlib.util.spec_from_file_location(modname, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[modname] = mod
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def ach_ref():
    base = f"{REF}/arkham-shard-ach/arkham_shard_ach"
    models = _load("arkham_shard_ach.models", f"{base}/models.py")
    sys.modules["arkham_shard_ach"].models = models
    scoring = _load("arkham_shard_ach.scoring", f"{base}/scoring.py")
    evidence = _load("arkham_shard_ach.evidence", f"{base}/evidence.py")
    return models, scoring, evidence


@pytest.fixture(scope="module")
def graph_ref():
    base = f"{REF}/arkham-shard-graph/arkham_shard_graph"
    models = _load("arkham_shard_graph.models", f"{base}/models.py")
    sys.modules["arkham_shard_graph"].models = models
    flows = _load("arkham_shard_graph.flows", f"{base}/flows.py")
    arg = _load("arkham_shard_graph.argumentation", f"{base}/argumentation.py")
    return models, flows, arg


# conf/cred/rel quantized to exact-binary quarters so float sums in the
# reference equal the centi-integer math here bit-for-bit
_QUART = [0.25, 0.5, 0.75, 1.0]


def _random_matrix(models, rng, quantized=True):
    syms = ["++", "+", "N", "-", "--", "N/A"]
    m = models.ACHMatrix(id="m", title="t")
    n_h, n_e = rng.randint(2, 5), rng.randint(3, 9)
    m.hypotheses = [
        models.Hypothesis(id=f"h{j}", matrix_id="m", title=f"H{j}")
        for j in range(n_h)
    ]

    def val():
        return rng.choice(_QUART) if quantized else rng.randrange(25, 101) / 100

    m.evidence = [
        models.Evidence(
            id=f"e{i}", matrix_id="m", description=f"E{i}" * (i + 1),
            credibility=val(), relevance=val(),
            source=rng.choice(["src", "", "  ", "archive"]),
        )
        for i in range(n_e)
    ]
    m.ratings = [
        models.Rating(
            matrix_id="m", evidence_id=f"e{i}", hypothesis_id=f"h{j}",
            rating=models.ConsistencyRating(rng.choice(syms)),
            confidence=val(),
        )
        for i in range(n_e)
        for j in range(n_h)
        if rng.random() > 0.1  # some unrated cells
    ]
    return m


def _frames(spark, m):
    ev = {e.id: e for e in m.evidence}
    ratings = spark.createDataFrame(
        [
            ("m", r.hypothesis_id, r.evidence_id, r.rating.value,
             round(ev[r.evidence_id].credibility * 100),
             round(ev[r.evidence_id].relevance * 100),
             round(r.confidence * 100))
            for r in m.ratings
        ],
        "matrix_id: string, hypothesis_id: string, evidence_id: string, "
        "rating: string, cred_centi: int, rel_centi: int, conf_centi: int",
    )
    evidence = spark.createDataFrame(
        [
            ("m", e.id, e.description, e.evidence_type.value, e.source,
             round(e.credibility * 100), round(e.relevance * 100))
            for e in m.evidence
        ],
        "matrix_id: string, evidence_id: string, description: string, "
        "evidence_type: string, source: string, cred_centi: int, "
        "rel_centi: int",
    )
    hyps = spark.createDataFrame(
        [("m", h.id, h.title) for h in m.hypotheses],
        "matrix_id: string, hypothesis_id: string, title: string",
    )
    return ratings, evidence, hyps


def _rank_keys_tie_free(scores):
    keys = [
        (s.inconsistency_count, round(s.weighted_score, 9)) for s in scores
    ]
    return len(set(keys)) == len(keys)


class TestSensitivity:
    def test_sensitivity_matches_reference(self, spark, ach_ref):
        from arkhammirror_spark.operators.ach import (
            ach_sensitivity_changes, ach_sensitivity_summary,
        )

        models, scoring, _ = ach_ref
        rng = random.Random(41)
        checked = 0
        for trial in range(10):
            m = _random_matrix(models, rng)
            base_scores = scoring.ACHScorer.calculate_scores(m)
            rep = scoring.ACHScorer.get_sensitivity_analysis(m)
            # guard: skip trials where either ranking has float near-ties
            uncertain = {
                e.id for e in m.evidence
                if e.credibility < 0.7 or e.relevance < 0.7
            }
            saved = m.ratings
            m.ratings = [
                r for r in m.ratings if r.evidence_id not in uncertain
            ]
            new_scores = scoring.ACHScorer.calculate_scores(m)
            m.ratings = saved
            scoring.ACHScorer.calculate_scores(m)
            if not (_rank_keys_tie_free(base_scores)
                    and _rank_keys_tie_free(new_scores)):
                continue
            checked += 1
            ratings, evidence, _ = _frames(spark, m)
            got_changes = {
                r["hypothesis_id"]: (
                    r["original_rank"], r["new_rank"], r["change"]
                )
                for r in ach_sensitivity_changes(
                    ratings, evidence
                ).collect()
            }
            exp_changes = {
                rc["hypothesis_id"]: (
                    rc["original_rank"], rc["new_rank"], rc["change"]
                )
                for rc in rep["rank_changes"]
            }
            assert got_changes == exp_changes, trial
            s = ach_sensitivity_summary(ratings, evidence).collect()[0]
            assert s["sensitivity"] == rep["sensitivity"], trial
            assert (
                s["uncertain_evidence_count"]
                == rep["uncertain_evidence_count"]
            )
            if "max_rank_change" in rep:
                assert s["max_rank_change"] == rep["max_rank_change"]
        assert checked >= 5  # the guard must not eat the suite

    def test_no_uncertain_evidence_short_circuit(self, spark, ach_ref):
        from arkhammirror_spark.operators.ach import (
            ach_sensitivity_changes, ach_sensitivity_summary,
        )

        models, scoring, _ = ach_ref
        m = models.ACHMatrix(id="m", title="t")
        m.hypotheses = [
            models.Hypothesis(id="h0", matrix_id="m", title="A"),
            models.Hypothesis(id="h1", matrix_id="m", title="B"),
        ]
        m.evidence = [
            models.Evidence(id="e0", matrix_id="m", description="d",
                            credibility=0.75, relevance=1.0),
        ]
        m.ratings = [
            models.Rating(matrix_id="m", evidence_id="e0",
                          hypothesis_id=h, confidence=1.0,
                          rating=models.ConsistencyRating("+"))
            for h in ("h0", "h1")
        ]
        rep = scoring.ACHScorer.get_sensitivity_analysis(m)
        assert rep["uncertain_evidence_count"] == 0
        ratings, evidence, _ = _frames(spark, m)
        assert ach_sensitivity_changes(ratings, evidence).count() == 0
        s = ach_sensitivity_summary(ratings, evidence).collect()[0]
        assert s["sensitivity"] == "low"
        assert s["uncertain_evidence_count"] == 0


class TestEvidenceAnalyzer:
    def test_quality_matches_reference(self, spark, ach_ref):
        from arkhammirror_spark.operators.ach import evidence_quality

        models, _, evid = ach_ref
        rng = random.Random(7)
        rows = []
        cases = []
        # dense grid around every threshold plus fuzz
        grid = [0, 10, 29, 30, 31, 49, 50, 51, 79, 80, 81, 100]
        for c in grid:
            for r in grid:
                src = rng.choice(["s", "", "  "])
                cases.append((c, r, src))
        for _ in range(60):
            cases.append(
                (rng.randrange(0, 101), rng.randrange(0, 101),
                 rng.choice(["s", ""]))
            )
        for i, (c, r, src) in enumerate(cases):
            rows.append((f"m", f"e{i}", "d", "fact", src, c, r))
        df = spark.createDataFrame(
            rows,
            "matrix_id: string, evidence_id: string, description: string, "
            "evidence_type: string, source: string, cred_centi: int, "
            "rel_centi: int",
        )
        got = {
            r["evidence_id"]: r for r in evidence_quality(df).collect()
        }
        for i, (c, r, src) in enumerate(cases):
            exp = evid.EvidenceAnalyzer.assess_quality(
                src, "fact", c / 100, r / 100
            )
            g = got[f"e{i}"]
            assert g["quality_level"] == exp["quality_level"], (c, r, src)
            assert g["quality_score"] == pytest.approx(
                exp["quality_score"], abs=1e-12
            )
            assert g["issues"] == "|".join(exp["issues"]), (c, r)
            assert g["warnings"] == "|".join(exp["warnings"]), (c, r, src)

    def test_gaps_match_reference(self, spark, ach_ref):
        from arkhammirror_spark.operators.ach import evidence_gaps

        models, _, evid = ach_ref
        rng = random.Random(11)
        for trial in range(6):
            m = _random_matrix(models, rng)
            # plant an unrated evidence item and a sparsely-rated hyp
            m.evidence.append(
                models.Evidence(id="e_unrated", matrix_id="m",
                                description="u", credibility=0.25,
                                relevance=0.25)
            )
            rep = evid.EvidenceAnalyzer.identify_gaps(m)
            exp = set()
            for g in rep["gaps"]:
                if g["type"] == "hypothesis_coverage":
                    exp.add((g["type"], g["hypothesis_id"], g["severity"],
                             str(g["rating_count"])))
                elif g["type"] == "evidence_diversity":
                    exp.add((g["type"], "", g["severity"],
                             "|".join(sorted(g["missing_types"]))))
                elif g["type"] == "unrated_evidence":
                    exp.add((g["type"], g["evidence_id"], g["severity"], ""))
                else:
                    exp.add((g["type"], "", g["severity"],
                             f"{g['low_quality_count']}/{g['total_evidence']}"))
            ratings, evidence, _ = _frames(spark, m)
            got = {
                (r["gap_type"], r["ref_id"], r["severity"], r["detail"])
                for r in evidence_gaps(ratings, evidence).collect()
            }
            assert got == exp, trial

    def test_compare_matches_reference(self, spark, ach_ref):
        from arkhammirror_spark.operators.ach import compare_evidence_pairs

        models, _, evid = ach_ref
        rng = random.Random(13)
        m = _random_matrix(models, rng)
        ratings, _, _ = _frames(spark, m)
        got = {
            (r["evidence1_id"], r["evidence2_id"]):
                (r["agreement_count"], r["disagreement_count"])
            for r in compare_evidence_pairs(ratings).collect()
        }
        evs = sorted(e.id for e in m.evidence)
        for i, e1 in enumerate(evs):
            for e2 in evs[i + 1:]:
                rep = evid.EvidenceAnalyzer.compare_evidence(e1, e2, m)
                exp = (rep["agreement_count"], rep["disagreement_count"])
                if exp == (0, 0):
                    assert (e1, e2) not in got
                else:
                    assert got[(e1, e2)] == exp, (e1, e2)

    def test_suggestions_match_reference(self, spark, ach_ref):
        from arkhammirror_spark.operators.ach import suggest_evidence

        models, _, evid = ach_ref
        rng = random.Random(29)
        for trial in range(5):
            m = _random_matrix(models, rng)
            # vary evidence types so the missing-type templates fire
            types_pool = list(models.EvidenceType)
            for e in m.evidence:
                e.evidence_type = rng.choice(types_pool)
            ratings, evidence, hyps = _frames(spark, m)
            got = {}
            for r in suggest_evidence(ratings, evidence, hyps).collect():
                got.setdefault(r["hypothesis_id"], {})[
                    r["suggestion_idx"]
                ] = r["suggestion"]
            for h in m.hypotheses:
                exp = evid.EvidenceAnalyzer.suggest_evidence(m, h.id)
                mine = [
                    v for _, v in sorted(got.get(h.id, {}).items())
                ]
                assert mine == exp, (trial, h.id)


class TestArgumentation:
    def test_graph_matches_reference(self, spark, ach_ref, graph_ref):
        from arkhammirror_spark.operators.ach import ach_scores
        from arkhammirror_spark.operators.argumentation import (
            argument_edges, argument_statuses, evidence_nodes,
            hypothesis_nodes,
        )

        models, scoring, _ = ach_ref
        _, _, arg_mod = graph_ref
        builder = arg_mod.ArgumentationBuilder()
        rng = random.Random(59)
        for trial in range(8):
            m = _random_matrix(models, rng)
            scores = scoring.ACHScorer.calculate_scores(m)
            if not _rank_keys_tie_free(scores):
                continue
            matrix_data = {
                "id": "m", "title": "t",
                "hypotheses": [
                    {"id": h.id, "title": h.title, "description": ""}
                    for h in m.hypotheses
                ],
                "evidence": [
                    {"id": e.id, "description": e.description,
                     "credibility": e.credibility,
                     "evidence_type": e.evidence_type.value,
                     "source": e.source}
                    for e in m.evidence
                ],
                "ratings": [
                    {"evidence_id": r.evidence_id,
                     "hypothesis_id": r.hypothesis_id,
                     "rating": r.rating.value, "reasoning": "",
                     "confidence": r.confidence}
                    for r in m.ratings
                ],
                "scores": [
                    {"hypothesis_id": s.hypothesis_id, "rank": s.rank,
                     "normalized_score": s.normalized_score,
                     "consistency_score": s.consistency_score}
                    for s in scores
                ],
            }
            g = builder.build_from_ach_matrix(matrix_data)

            ratings, evidence, hyps = _frames(spark, m)
            sc = ach_scores(ratings)
            hn = {
                r["node_id"]: r
                for r in hypothesis_nodes(hyps, sc).collect()
            }
            en = {
                r["node_id"]: r for r in evidence_nodes(evidence).collect()
            }
            ref_nodes = {n.id: n for n in g.nodes}
            assert set(hn) | set(en) == set(ref_nodes)
            for nid, n in ref_nodes.items():
                mine = hn.get(nid) or en.get(nid)
                assert mine["label"] == n.label, nid
                if nid.startswith("hyp_"):
                    assert mine["rank"] == n.rank
                    assert mine["is_lead"] == n.is_lead
                    assert mine["confidence"] == pytest.approx(
                        n.confidence, abs=1e-9
                    )
                else:
                    assert mine["credibility"] == pytest.approx(
                        n.credibility, abs=1e-12
                    )
            got_edges = {
                (r["source"], r["target"]):
                    (r["edge_type"], r["strength"], r["rating_value"],
                     r["confidence"])
                for r in argument_edges(ratings).collect()
            }
            exp_edges = {
                (e.source, e.target):
                    (e.edge_type.value, e.strength, e.rating_value,
                     e.confidence)
                for e in g.edges
            }
            assert got_edges == exp_edges, trial
            got_status = {
                r["node_id"]: (r["status"], r["support_count"],
                               r["attack_count"], r["net_score"])
                for r in argument_statuses(ratings).collect()
            }
            for s in g.statuses:
                gs = got_status.get(
                    s.node_id, ("undecided", 0, 0, 0.0)
                )
                assert gs[0] == s.status, (trial, s.node_id)
                assert gs[1] == s.support_count
                assert gs[2] == s.attack_count
                assert gs[3] == pytest.approx(s.net_score, abs=1e-12)


def _mk_graph(models, rng, n_nodes=14, n_edges=30):
    types_pool = ["person", "organization", "location", "event", "unknown"]
    rels = ["works_for", "located_in", "mentioned_with", "related"]
    nodes = [
        models.GraphNode(
            id=f"n{i}", entity_id=f"n{i}", label=f"N{i}",
            entity_type=rng.choice(types_pool),
        )
        for i in range(n_nodes)
    ]
    edges = []
    for _ in range(n_edges):
        a, b = rng.sample(range(n_nodes), 2)
        edges.append(
            models.GraphEdge(
                source=f"n{a}", target=f"n{b}",
                relationship_type=rng.choice(rels),
                weight=rng.randrange(1, 40) / 4.0,
            )
        )
    g = models.Graph(project_id="p")
    g.nodes, g.edges = nodes, edges
    return g


def _graph_frames(spark, g):
    nodes = spark.createDataFrame(
        [(n.id, n.label, n.entity_type) for n in g.nodes],
        "id: string, label: string, entity_type: string",
    )
    edges = spark.createDataFrame(
        [(e.source, e.target, e.relationship_type, e.weight)
         for e in g.edges],
        "source: string, target: string, relationship_type: string, "
        "weight: double",
    )
    return nodes, edges


def _link_set(links):
    return sorted(
        (l.source, l.target, round(l.value, 9), l.category) for l in links
    )


def _got_link_set(rows):
    return sorted(
        (r["source"], r["target"], round(r["value"], 9), r["category"])
        for r in rows
    )


def _node_map(nodes):
    return {
        n.id: (n.label, n.entity_type, n.layer, round(n.value, 9))
        for n in nodes
    }


def _got_node_map(rows):
    return {
        r["id"]: (r["label"], r["entity_type"], r["layer"],
                  round(r["value"], 9))
        for r in rows
    }


class TestFlows:
    @pytest.mark.parametrize("seed", range(5))
    def test_entity_flows_match_reference(self, spark, graph_ref, seed):
        models, flows_mod, _ = graph_ref
        fa = flows_mod.FlowAnalyzer()
        rng = random.Random(100 + seed)
        g = _mk_graph(models, rng)
        kw = dict(
            source_types=["person"],
            target_types=["location", "event"],
            intermediate_types=["organization"] if seed % 2 else None,
        )
        exp = fa.extract_entity_flows(g, **kw)
        nodes, edges = _graph_frames(spark, g)
        from arkhammirror_spark.operators.flows import extract_entity_flows

        fn, fl, stats = extract_entity_flows(nodes, edges, **kw)
        assert _got_link_set(fl.collect()) == _link_set(exp.links), seed
        assert _got_node_map(fn.collect()) == _node_map(exp.nodes), seed
        s = stats.collect()[0]
        assert s["total_flow"] == pytest.approx(exp.total_flow)
        assert s["layer_count"] == exp.layer_count

    @pytest.mark.parametrize("seed", range(4))
    def test_relationship_flows_match_reference(
        self, spark, graph_ref, seed
    ):
        models, flows_mod, _ = graph_ref
        fa = flows_mod.FlowAnalyzer()
        rng = random.Random(200 + seed)
        g = _mk_graph(models, rng)
        exp = fa.extract_relationship_flows(g, aggregate_by_type=True)
        nodes, edges = _graph_frames(spark, g)
        from arkhammirror_spark.operators.flows import (
            extract_relationship_flows,
        )

        fn, fl, stats = extract_relationship_flows(nodes, edges)
        assert _got_link_set(fl.collect()) == _link_set(exp.links), seed
        assert _got_node_map(fn.collect()) == _node_map(exp.nodes), seed
        s = stats.collect()[0]
        assert s["total_flow"] == pytest.approx(exp.total_flow)
        assert s["layer_count"] == exp.layer_count

    def test_aggregate_flows_match_reference(self, spark, graph_ref):
        models, flows_mod, _ = graph_ref
        fa = flows_mod.FlowAnalyzer()
        rng = random.Random(303)
        g = _mk_graph(models, rng, n_nodes=20, n_edges=60)
        exp_full = fa.extract_entity_flows(
            g, source_types=["person"],
            target_types=["location", "event"],
            intermediate_types=["organization"],
        )
        # canonical link order so the reference's stable sort equals the
        # operator's deterministic tie-break
        exp_full.links.sort(
            key=lambda l: (-l.value, l.source, l.target, l.category or "")
        )
        exp = fa.aggregate_flows(exp_full, min_value=2.0, max_links=8)
        nodes, edges = _graph_frames(spark, g)
        from arkhammirror_spark.operators.flows import (
            aggregate_flows, extract_entity_flows,
        )

        fn, fl, _ = extract_entity_flows(
            nodes, edges, source_types=["person"],
            target_types=["location", "event"],
            intermediate_types=["organization"],
        )
        an, al = aggregate_flows(fn, fl, min_value=2.0, max_links=8)
        assert _got_link_set(al.collect()) == _link_set(exp.links)
        assert _got_node_map(an.collect()) == _node_map(exp.nodes)


def test_argumentation_unrated_hypothesis_is_not_lead(
    spark, ach_ref, graph_ref
):
    """A hypothesis with NO ratings at all still gets a node and is_lead
    False (the reference's score-lookup default) — not NULL."""
    from arkhammirror_spark.operators.ach import ach_scores
    from arkhammirror_spark.operators.argumentation import (
        hypothesis_nodes,
    )

    models, scoring, _ = ach_ref
    m = models.ACHMatrix(id="m", title="t")
    m.hypotheses = [
        models.Hypothesis(id="h0", matrix_id="m", title="A"),
        models.Hypothesis(id="h1", matrix_id="m", title="B"),
        models.Hypothesis(id="hx", matrix_id="m", title="Unrated"),
    ]
    m.evidence = [
        models.Evidence(id="e0", matrix_id="m", description="d",
                        credibility=0.75, relevance=1.0),
    ]
    m.ratings = [
        models.Rating(matrix_id="m", evidence_id="e0",
                      hypothesis_id=h, confidence=1.0,
                      rating=models.ConsistencyRating(r))
        for h, r in (("h0", "++"), ("h1", "-"))
    ]
    ratings, _, hyps = _frames(spark, m)
    got = {
        r["node_id"]: r
        for r in hypothesis_nodes(hyps, ach_scores(ratings)).collect()
    }
    assert set(got) == {"hyp_h0", "hyp_h1", "hyp_hx"}
    assert got["hyp_hx"]["is_lead"] is False
    assert got["hyp_h0"]["is_lead"] is True
    assert got["hyp_h1"]["is_lead"] is False
