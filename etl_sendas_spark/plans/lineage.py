"""Pipeline lineage — the engine's mirror of the reference's own spec
artifact, the pyvis metadata graph at ``grafo_sendas.html:586`` (nodes)
/ ``:587`` (edges): 109 nodes, 168 edges, colored by kind —

- **gold**  = tables (6): ``produccion``, the four dimensions, and the
  result table ``capital_sendas``;
- **lime**  = join conditions (5): ``Condicion_*`` nodes, one per join
  predicate;
- **red**   = validation rules (8): ``Regla_*`` nodes, one per rule
  family R1–R9;
- **pink**  = scalar calculations (3): EDAD1/EDAD2 age chains and the
  TIPOLOGIA_NOMBRE pediatric pick;
- **aqua**  = columns (87): per-table column nodes carrying the
  CAMPO_DE / COPIADO_A / CALCULA_A / CUMPLE / AGRUPADO edges.

The graph is the reference's documentation of record for WHAT the
pipeline computes; this module re-states the table/condition/rule/calc
nodes as importable metadata and binds each to the engine construct
that realizes it, so a user can trace any reference graph node to
running Spark code (and the pytest below pins that every binding
exists). Column-level (aqua) lineage is carried implicitly by the
DataFrame plans themselves — ``df.columns`` at each stage.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# --- gold: tables ----------------------------------------------------------

TABLES: dict[str, str] = {
    # graph node id -> role in this engine
    "produccion": "input fact (billing line-items) — the `fact` argument of run_pipeline",
    "Codigos_consulta": "dimension: SERVICIO → CONCEPTO/GRUPO QX — `codigos` argument (broadcast)",
    "Codigo_tipologia": "dimension: service → TIPOLOGIA — `tipologia` argument (broadcast)",
    "Anexos": "dimension: CUPS → TIPOLOGIA NOMBRE/tariffs — `anexos` argument (broadcast)",
    "bases_norte": "dimension: documento → ips affiliation — `bases` argument (broadcast)",
    "capital_sendas": "result table — first element of run_pipeline's return",
}

# --- lime: join conditions -------------------------------------------------

CONDITIONS: dict[str, str] = {
    "Condicion_igual_servicio": "plans.capital_sendas.enrich — codes join on SERVICIO (J2)",
    "Condicion_igual_servicio_2": "plans.capital_sendas.enrich — typology join on SERVICIO (J3/J4)",
    "Condicion_igual_cups": "plans.capital_sendas.enrich — Anexos join SERVICIO = CUPS (J5)",
    "Condicion_igual_documento": "plans.capital_sendas.enrich — affiliation join DOC_PACIENTE = documento (J7)",
    "Condicion_contiene_PGP": "plans.capital_sendas.ingest_filters — NOM_PLAN contains 'PGP' (P4)",
}

# --- red: validation rules -------------------------------------------------

RULES: dict[str, str] = {
    # bindings name entries of the ordered rule table; the per-rule
    # entry points rule_<key> fold over that one entry
    "Regla_quirofano": "plans.capital_sendas.RULE_TABLE[qx] — R1 capped group mark (operators.marking.capped_group_mark)",
    "Regla_egreso": "plans.capital_sendas.RULE_TABLE[egreso] — R2 dual-key mark",
    "Regla_ambulatorio": "plans.capital_sendas.RULE_TABLE[c1, c4, c7_c8] — R3/R4/R5 patient-day + invoice zeroing",
    "Regla_hospital_dia": "plans.capital_sendas.RULE_TABLE[hd_ari] — R6 (HD)",
    "Regla_atencion_renal_integral": "plans.capital_sendas.RULE_TABLE[hd_ari] — R6 (ARI)",
    "Regla_urgencias_medicas": "plans.capital_sendas.RULE_TABLE[c5] — R7 gap-anchor fold (operators.marking.gap_anchor_mark)",
    "Regla_quirofano_basico_parto_y_cesarea": "plans.capital_sendas.RULE_TABLE[qx1] — R8 first-flag",
    "Regla_resonancia_nuclear_magnetica": "plans.capital_sendas.RULE_TABLE[rm] — R9",
}

# --- pink: scalar calculations --------------------------------------------

CALCULATIONS: dict[str, str] = {
    "Calculo_EDAD_1": "functions.dates.edad_valor — age in years/months/days units",
    "Calculo_EDAD_2": "functions.dates.edad_unidad — age unit label chain",
    "Calculo_TIPOLOGIA_NOMBRE": "plans.capital_sendas.enrich — pediatric typology pick (F1/T4)",
}


# --- the executable stage list --------------------------------------------

@dataclass(frozen=True)
class Stage:
    """One named pipeline stage: the unit of the run_pipeline DAG."""

    name: str
    func: str  # attribute in plans.capital_sendas, in execution order
    realizes: tuple[str, ...] = field(default_factory=tuple)  # graph node ids
    ref: str = ""  # reference citation


STAGES: tuple[Stage, ...] = (
    Stage(
        "ingest_filters",
        "ingest_filters",
        ("produccion", "Condicion_contiene_PGP"),
        "capital_sendas.py:96-130",
    ),
    Stage(
        "parse_and_filter_month",
        "parse_and_filter_month",
        (),
        "capital_sendas.py:131-155",
    ),
    Stage(
        "enrich",
        "enrich",
        (
            "Codigos_consulta",
            "Codigo_tipologia",
            "Anexos",
            "bases_norte",
            "Condicion_igual_servicio",
            "Condicion_igual_servicio_2",
            "Condicion_igual_cups",
            "Condicion_igual_documento",
            "Calculo_EDAD_1",
            "Calculo_EDAD_2",
            "Calculo_TIPOLOGIA_NOMBRE",
        ),
        "capital_sendas.py:157-275",
    ),
    Stage(
        "apply_rules",
        "apply_rules",
        tuple(RULES),
        "capital_sendas.py:276-574",
    ),
    Stage(
        "finalize",
        "finalize",
        ("capital_sendas",),
        "capital_sendas.py:575-596",
    ),
)


def pipeline_lineage() -> dict:
    """The full lineage mirror as one structure (stages in execution
    order plus the node dictionaries) — what `grafo_sendas.html` renders
    visually, as queryable metadata."""
    return {
        "stages": STAGES,
        "tables": TABLES,
        "conditions": CONDITIONS,
        "rules": RULES,
        "calculations": CALCULATIONS,
    }


def unrealized_nodes() -> list[str]:
    """Graph nodes (non-column kinds) no stage claims — must stay empty."""
    claimed = {n for s in STAGES for n in s.realizes}
    every = set(TABLES) | set(CONDITIONS) | set(RULES) | set(CALCULATIONS)
    return sorted(every - claimed)


# --- artifact emission ------------------------------------------------------
# The reference SHIPS its graph (grafo_sendas.html:586 nodes / :587
# edges, pyvis). The mirror below emits the same spec as (a) a JSON
# document any tool can load and (b) a self-contained HTML file (inline
# SVG, no CDN / JS dependencies — the container is offline) with the
# reference's kind colors, so the pipeline's spec is inspectable as an
# artifact, not only as importable metadata.

KIND_COLORS = {
    # the reference graph's palette, by node kind
    "table": "gold",
    "condition": "limegreen",
    "rule": "crimson",
    "calculation": "hotpink",
    "stage": "skyblue",
}


def lineage_graph() -> dict:
    """The mirror as a plain nodes/edges document: one node per stage
    and per non-column graph node (tables, conditions, rules, calcs),
    a ``next`` edge between consecutive stages (execution order), and a
    ``realizes`` edge from each stage to every graph node it claims."""
    nodes, edges = [], []
    for kind, table in (
        ("table", TABLES),
        ("condition", CONDITIONS),
        ("rule", RULES),
        ("calculation", CALCULATIONS),
    ):
        for node_id, binding in table.items():
            nodes.append(
                {"id": node_id, "kind": kind,
                 "color": KIND_COLORS[kind], "title": binding}
            )
    for st in STAGES:
        nodes.append(
            {"id": f"stage:{st.name}", "kind": "stage",
             "color": KIND_COLORS["stage"],
             "title": f"plans.capital_sendas.{st.func} ({st.ref})"}
        )
    for a, b in zip(STAGES, STAGES[1:]):
        edges.append(
            {"from": f"stage:{a.name}", "to": f"stage:{b.name}", "rel": "next"}
        )
    for st in STAGES:
        for node_id in st.realizes:
            edges.append(
                {"from": f"stage:{st.name}", "to": node_id, "rel": "realizes"}
            )
    return {"nodes": nodes, "edges": edges}


def emit_lineage_json(path: str) -> dict:
    """Write :func:`lineage_graph` as JSON; returns the graph."""
    import json

    g = lineage_graph()
    with open(path, "w", encoding="utf-8") as f:
        json.dump(g, f, indent=1, ensure_ascii=False)
    return g


def emit_lineage_html(path: str) -> dict:
    """Write the graph as one self-contained HTML file: stages as a
    left-to-right spine, realized nodes fanned below their stage,
    everything inline SVG (openable anywhere, no network). Returns the
    graph."""
    from html import escape

    g = lineage_graph()
    stage_ids = [n["id"] for n in g["nodes"] if n["kind"] == "stage"]
    by_id = {n["id"]: n for n in g["nodes"]}
    col_w, x0, y_stage, y0, row_h = 230, 140, 60, 150, 48
    pos: dict[str, tuple[int, int]] = {}
    for i, sid in enumerate(stage_ids):
        pos[sid] = (x0 + i * col_w, y_stage)
    for i, sid in enumerate(stage_ids):
        kids = [e["to"] for e in g["edges"] if e["from"] == sid and e["rel"] == "realizes"]
        for j, kid in enumerate(kids):
            pos[kid] = (x0 + i * col_w, y0 + j * row_h)
    width = x0 + len(stage_ids) * col_w
    height = max(y for _, y in pos.values()) + 80
    parts = [
        "<!doctype html><html><head><meta charset='utf-8'>",
        "<title>capital_sendas lineage</title></head><body>",
        "<h2>capital_sendas pipeline lineage</h2>",
        "<p>Mirror of the reference's grafo_sendas.html node/edge spec "
        "(tables=gold, join conditions=green, rules=red, calculations="
        "pink, engine stages=blue). Hover a node for its engine "
        "binding.</p>",
        f"<svg width='{width}' height='{height}' "
        "xmlns='http://www.w3.org/2000/svg'>",
    ]
    for e in g["edges"]:
        (xa, ya), (xb, yb) = pos[e["from"]], pos[e["to"]]
        dash = "" if e["rel"] == "next" else " stroke-dasharray='4 3'"
        parts.append(
            f"<line x1='{xa}' y1='{ya}' x2='{xb}' y2='{yb}' "
            f"stroke='gray'{dash}/>"
        )
    for n in g["nodes"]:
        x, y = pos[n["id"]]
        label = n["id"].removeprefix("stage:")
        parts.append(
            f"<g><circle cx='{x}' cy='{y}' r='14' fill='{n['color']}' "
            f"stroke='black'><title>{escape(n['title'])}</title></circle>"
            f"<text x='{x + 18}' y='{y + 4}' font-size='11' "
            f"font-family='sans-serif'>{escape(label)}</text></g>"
        )
    parts.append("</svg></body></html>")
    with open(path, "w", encoding="utf-8") as f:
        f.write("".join(parts))
    return g
