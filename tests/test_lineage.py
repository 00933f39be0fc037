"""The lineage mirror (plans/lineage.py) must stay bound to running
code: every stage names a real callable, every node binding resolves
to an importable attribute, every non-column graph node
from grafo_sendas.html:586 is claimed by exactly one stage family, and
run_pipeline executes the stages in lineage order."""

from __future__ import annotations

import importlib
import inspect
import re

from etl_sendas_spark.plans import capital_sendas, lineage


def test_every_stage_func_exists():
    for st in lineage.STAGES:
        fn = getattr(capital_sendas, st.func, None)
        assert callable(fn), f"stage {st.name}: no callable {st.func}"


def test_every_binding_resolves():
    """Each condition/rule/calculation binding leads with a dotted
    ``module.attr`` under the package: it must import and resolve, and
    any bracketed keys must name entries of that attribute."""
    for table in (lineage.CONDITIONS, lineage.RULES, lineage.CALCULATIONS):
        for node, binding in table.items():
            m = re.match(r"([\w.]+)(?:\[([^\]]*)\])?", binding)
            module, _, attr = m.group(1).rpartition(".")
            mod = importlib.import_module(f"etl_sendas_spark.{module}")
            obj = getattr(mod, attr, None)
            assert obj is not None, f"{node}: {m.group(1)} does not resolve"
            for key in filter(None, re.split(r",\s*", m.group(2) or "")):
                assert key in obj, f"{node}: no entry {key!r} in {attr}"


def test_no_unrealized_nodes():
    assert lineage.unrealized_nodes() == []


def test_node_counts_match_reference_graph():
    # grafo_sendas.html:586 — 6 gold, 5 lime, 8 red, 3 pink nodes
    assert len(lineage.TABLES) == 6
    assert len(lineage.CONDITIONS) == 5
    assert len(lineage.RULES) == 8
    assert len(lineage.CALCULATIONS) == 3


def test_run_pipeline_driven_by_stages():
    src = inspect.getsource(capital_sendas.run_pipeline)
    assert "STAGES" in src
    assert [s.name for s in lineage.STAGES] == [
        "ingest_filters",
        "parse_and_filter_month",
        "enrich",
        "apply_rules",
        "finalize",
    ]


def test_pipeline_lineage_shape():
    pl = lineage.pipeline_lineage()
    assert set(pl) == {"stages", "tables", "conditions", "rules", "calculations"}
    assert pl["stages"][-1].name == "finalize"


def test_lineage_artifact_round_trips(tmp_path):
    """The emitted JSON must load back equal to the in-memory graph;
    the HTML must be self-contained (no external refs) and carry every
    node id and every engine binding as a hover title."""
    import json

    html_p = str(tmp_path / "lineage.html")
    json_p = str(tmp_path / "lineage.json")
    g = lineage.emit_lineage_html(html_p)
    g2 = lineage.emit_lineage_json(json_p)
    assert g == g2
    assert json.load(open(json_p)) == g

    ids = {n["id"] for n in g["nodes"]}
    # one node per non-column reference graph node + one per stage
    assert len(ids) == (
        len(lineage.TABLES) + len(lineage.CONDITIONS)
        + len(lineage.RULES) + len(lineage.CALCULATIONS)
        + len(lineage.STAGES)
    )
    # every edge endpoint resolves; every realized node has an edge
    for e in g["edges"]:
        assert e["from"] in ids and e["to"] in ids, e
    realized = {e["to"] for e in g["edges"] if e["rel"] == "realizes"}
    assert realized == (
        set(lineage.TABLES) | set(lineage.CONDITIONS)
        | set(lineage.RULES) | set(lineage.CALCULATIONS)
    )

    html = open(html_p, encoding="utf-8").read()
    assert "<svg" in html and "http-equiv" not in html
    assert "src=" not in html and "href=" not in html  # self-contained
    for n in g["nodes"]:
        assert n["id"].removeprefix("stage:") in html
    # the reference palette is intact
    for color in ("gold", "limegreen", "crimson", "hotpink", "skyblue"):
        assert color in html


def test_cli_emits_lineage_artifact(tmp_path):
    """The CLI writes lineage.html + lineage.json next to its outputs —
    checked through the emit functions the CLI calls (the full CLI run
    is covered by tests/test_cli.py; this pins the artifact contract)."""
    import json

    out = tmp_path / "outdir"
    out.mkdir()
    lineage.emit_lineage_html(str(out / "lineage.html"))
    lineage.emit_lineage_json(str(out / "lineage.json"))
    g = json.load(open(out / "lineage.json"))
    assert {n["kind"] for n in g["nodes"]} == {
        "table", "condition", "rule", "calculation", "stage"
    }
