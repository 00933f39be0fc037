"""The capital-sendas pipeline, re-expressed as one lazy Spark plan.

Semantics derive from /root/reference/capital_sendas.py (cited per
stage below); architecture does not — the reference is an eager
pandas script that mutates one in-memory table by row identity, while
this is a composable chain of DataFrame transforms threaded on a
synthetic row id (SURVEY.md §1.4), with all dimension joins broadcast
and every order-sensitive dedup given an explicit tiebreak.

Faithfully reproduced code-vs-spec deviations (SURVEY.md §7):
- the H1–H5 override join uses the UNFILTERED typology dim
  (capital_sendas.py:191, despite :186 building a filtered one);
- the invoice prefix filter is ``'SN'`` (code, :111), not the
  comment's "NS";
- the month filter matches month-of-year only, not year+month (:142).

Rules: each validation rule is written once, as an entry of the ordered
:data:`RULE_TABLE` (optional mark set + CASE branches). :func:`apply_rules`
folds the whole table into one plan; the per-rule entry points
(``rule_qx`` … ``rule_rm``) are the same fold over a single entry. R4
compares invoices null-as-empty, like the reference's ``fillna('')``.

Scale notes: the fact table is the only big input — every dim join is
a broadcast; the rule engine shuffles only on its group keys
(invoice, patient); nothing collects to the driver; the one Python
stage is the R7 grouped-map fold and the comprobar name splitter, both
Arrow-batched.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.dates import parse_js_timestamp, edad_valor, edad_unidad, date_to_text
from ..functions.strings import split_full_name
from ..operators.marking import capped_group_mark, gap_anchor_mark
from ..operators.relational import first_flag, keep_first
from ..sources.readers import ROW_ID, with_row_id

H1_H5 = ["H1", "H2", "H3", "H4", "H5"]

FACT_COLUMNS = [
    "SEDE_NOMBRE", "FACTURA", "FECHA_FACT", "INGRESO", "DOC_PACIENTE",
    "NOMBRE_PACIENTE", "FEC_NACIMIENTO", "GENERO", "EDAD", "SERVICIO",
    "NOM_SERVICIO_PRODUCTO", "FEC_SERVICIO", "CANT_SERVICIO", "VALOR_TOTAL",
    "COD_PLAN", "NOM_PLAN", "NOM_CENTROCOS", "COD_ENTIDAD1", "NOM_ENTIDAD1",
    "AMBITO", "DX_PRINCIPAL.0", "DX_PRINCIPAL.1",
]

# final published projection (capital_sendas.py:588-596)
OUTPUT_COLUMNS = [
    "SEDE_NOMBRE", "FACTURA", "FECHA_FACT", "INGRESO", "GENERO", "SERVICIO",
    "NOM_SERVICIO_PRODUCTO", "FEC_SERVICIO", "CANT_SERVICIO", "COD_PLAN",
    "NOM_PLAN", "COD_ENTIDAD1", "NOM_ENTIDAD1", "AMBITO", "DX_PRINCIPAL.0",
    "DX_PRINCIPAL.1", "CONCEPTO", "GRUPO QX", "EDAD 1", "EDAD 2", "tipologia",
    "TIPOLOGIA NOMBRE", "ips", "validacion",
]


def _nz(col: str) -> Column:
    """Null-as-empty-string, the reference's ``fillna('')`` predicate idiom."""
    return F.coalesce(F.col(col), F.lit(""))


def ingest_filters(fact: DataFrame) -> DataFrame:
    """Per-file ingest predicates (capital_sendas.py:109-111): keep
    PGP plans, drop 'SN'-prefixed invoices. Applied before any join so
    Catalyst pushes them into the scan."""
    return fact.filter(
        _nz("NOM_PLAN").contains("PGP") & ~_nz("FACTURA").startswith("SN")
    )


def parse_and_filter_month(fact: DataFrame, mes: int, parse_dates: bool = True) -> DataFrame:
    """Date parsing + month filter + numeric casts (capital_sendas.py:136-152)."""
    if parse_dates:
        for c in ("FEC_NACIMIENTO", "FEC_SERVICIO", "FECHA_FACT"):
            fact = fact.withColumn(c, parse_js_timestamp(F.col(c)))
    fact = fact.filter(F.month("FECHA_FACT") == F.lit(mes))
    for c in ("FEC_NACIMIENTO", "FEC_SERVICIO", "FECHA_FACT"):
        fact = fact.withColumn(c, F.to_date(c))
    # try_cast = pandas to_numeric(errors='coerce'): malformed → null
    # (plain cast would THROW under ANSI mode, Spark 4's default)
    fact = fact.withColumn("EDAD", F.col("EDAD").try_cast("int"))
    for c in ("CANT_SERVICIO", "VALOR_TOTAL"):
        fact = fact.withColumn(
            c, F.coalesce(F.col(c).try_cast("double").try_cast("int"), F.lit(0))
        )
    return fact


def enrich(
    fact: DataFrame,
    codigos: DataFrame,
    tipologia: DataFrame,
    anexos: DataFrame,
    bases: DataFrame,
) -> DataFrame:
    """The J2→J7 enrichment chain (capital_sendas.py:154-271).

    Every dimension is deduplicated exactly as the reference does (on
    full rows or keep-first with the dim's own row order as tiebreak)
    and broadcast — the fact side never shuffles here.
    """
    if ROW_ID not in fact.columns:
        fact = with_row_id(fact)

    # J2 — service codes dim (:157-160): full-row distinct, left join.
    dim_codes = codigos.select("SERVICIO", "CONCEPTO", "GRUPO QX").dropDuplicates()
    fact = fact.join(F.broadcast(dim_codes), on="SERVICIO", how="left")

    # EDAD 1 / EDAD 2 derived ages (:165-168) — pure CASE chains.
    fact = fact.withColumn("EDAD 1", edad_valor("FEC_SERVICIO", "FEC_NACIMIENTO"))
    fact = fact.withColumn("EDAD 2", edad_unidad("FEC_SERVICIO", "FEC_NACIMIENTO"))

    # J3 — general typology (:174-180): exclude H1–H5, keep-first per
    # SERVICIO in dim order (explicit row-id tiebreak replaces pandas'
    # silent positional keep='first'). A caller that needs fully
    # deterministic keep-first across runs should pre-assign ROW_ID on
    # the dim (file/row order); otherwise we take the scan order.
    if ROW_ID in tipologia.columns:
        tip = tipologia.withColumnRenamed(ROW_ID, "__dim_id")
    else:
        tip = with_row_id(tipologia, order_by=None).withColumnRenamed(ROW_ID, "__dim_id")
    tip_general = keep_first(
        tip.filter(~F.col("tipologia").isin(H1_H5)).select(
            "SERVICIO", "tipologia", "__dim_id"
        ),
        keys=["SERVICIO"],
        order_by=["__dim_id"],
    ).drop("__dim_id")
    fact = fact.join(F.broadcast(tip_general), on="SERVICIO", how="left")

    # J4 — composite-key override (:186-198). NOTE: the reference
    # builds an H1–H5-filtered frame but then joins the UNFILTERED dim
    # (:191) — we reproduce the code, not the comment.
    tip_override = keep_first(
        tip.select("SERVICIO", "NOM_CENTROCOS", "tipologia", "__dim_id"),
        keys=["SERVICIO", "NOM_CENTROCOS"],
        order_by=["__dim_id"],
    ).drop("__dim_id").withColumnRenamed("tipologia", "tipologia_temp")
    fact = fact.join(
        F.broadcast(tip_override), on=["SERVICIO", "NOM_CENTROCOS"], how="left"
    )
    fact = fact.withColumn(
        "tipologia", F.coalesce("tipologia_temp", "tipologia")
    ).drop("tipologia_temp")

    # J5/F1/D2/J6 — typology-name priority pick (:203-263).
    combos = fact.select("GENERO", "EDAD", "SERVICIO").dropDuplicates()
    dim_anexos = anexos.select("CUPS", "TIPOLOGIA NOMBRE").dropDuplicates()
    tmp = combos.join(
        F.broadcast(dim_anexos), combos["SERVICIO"] == dim_anexos["CUPS"], "left"
    ).drop("CUPS")
    tmp = tmp.withColumn("TIPOLOGIA NOMBRE", _nz("TIPOLOGIA NOMBRE"))
    tn_upper = F.upper(F.col("TIPOLOGIA NOMBRE"))
    tmp = tmp.withColumn(
        "Contiene",
        F.when(tn_upper.rlike("PEDIATRIA|GINECOLOGIA"), F.lit(1)).otherwise(F.lit(2)),
    )
    # asignar_tipologia (:224-250) as a CASE chain — note the reference
    # matches PEDIATRIA/GINECOLOGIA case-SENSITIVELY here (Python `in`),
    # unlike the Contiene flag above (case=False), so we mirror both.
    tn = F.col("TIPOLOGIA NOMBRE")
    valida = (
        F.when(tn.contains("PEDIATRIA") & (F.col("EDAD") < 14), tn)
        .when(tn.contains("GINECOLOGIA") & (F.col("GENERO") == "F"), tn)
        .when(~tn.contains("PEDIATRIA") & ~tn.contains("GINECOLOGIA"), tn)
        .otherwise(F.lit(""))
    )
    tmp = tmp.withColumn("Valida", valida).filter(F.col("Valida") != "")
    # groupby(...).first() on the (SERVICIO, GENERO, EDAD, Contiene)
    # sort (:215,:257) → keep-first with (Contiene, name) tiebreak; the
    # name tiebreak makes ties deterministic where pandas' unstable
    # sort is not.
    tmp = keep_first(
        tmp,
        keys=["GENERO", "EDAD", "SERVICIO"],
        order_by=[F.col("Contiene"), F.col("TIPOLOGIA NOMBRE")],
    ).select("GENERO", "EDAD", "SERVICIO", "TIPOLOGIA NOMBRE")
    fact = fact.join(F.broadcast(tmp), on=["GENERO", "EDAD", "SERVICIO"], how="left")

    # J7 — affiliation dim (:268-271): keep-first per documento.
    if ROW_ID in bases.columns:
        base_dim = bases.select("documento", "ips", ROW_ID).withColumnRenamed(
            ROW_ID, "__dim_id"
        )
    else:
        base_dim = with_row_id(bases.select("documento", "ips")).withColumnRenamed(
            ROW_ID, "__dim_id"
        )
    base_dim = keep_first(base_dim, keys=["documento"], order_by=["__dim_id"]).drop(
        "__dim_id"
    )
    fact = fact.join(
        F.broadcast(base_dim),
        fact["DOC_PACIENTE"] == base_dim["documento"],
        "left",
    ).drop("documento")

    return fact.withColumn("validacion", F.lit(0))


# --------------------------------------------------------------------------
# rule engine — ordered fold, later rules override earlier marks
# --------------------------------------------------------------------------
# The reference applies its rules in order, each overwriting
# ``validacion`` on its own scope. No rule reads another's output, so
# every mark set is computed from the SAME enriched frame and the fold
# order becomes a precedence: the highest-ranked mark per row wins, and
# the CASE lists the rules' branches latest-first.

def _qx_marks(fact: DataFrame) -> DataFrame:
    """R1 Quirófano (:326-380): within (FACTURA, FEC_SERVICIO), walking
    tipologia descending, ≤2 marks per tipologia run and ≤3 in total;
    every scope row is written, 0 or 1."""
    scope = fact.filter(
        _nz("tipologia").startswith("Qx") & (F.col("VALOR_TOTAL") > 0)
    ).select(ROW_ID, "FACTURA", "FEC_SERVICIO", "tipologia")
    return capped_group_mark(
        scope,
        group_keys=["FACTURA", "FEC_SERVICIO"],
        run_col="tipologia",
        walk_order=[F.col("tipologia").desc(), F.col(ROW_ID)],
        per_run_cap=2,
        total_cap=3,
    ).select(ROW_ID, "validacion")


def _egreso_marks(fact: DataFrame) -> DataFrame:
    """R2 Egreso (:383-410): first row per key → 1; the H1–H5 key
    includes NOM_CENTROCOS, other H* does not. Only kept rows are
    written."""
    scope = fact.filter(_nz("tipologia").startswith("H")).select(
        ROW_ID, "FACTURA", "SERVICIO", "NOM_CENTROCOS", "tipologia"
    )
    h15 = keep_first(
        scope.filter(F.col("tipologia").isin(H1_H5)),
        keys=["FACTURA", "SERVICIO", "NOM_CENTROCOS"],
    )
    rest = keep_first(
        scope.filter(~F.col("tipologia").isin(H1_H5)),
        keys=["FACTURA", "SERVICIO"],
    )
    return h15.unionByName(rest).select(ROW_ID, F.lit(1).alias("validacion"))


def _c1_marks(fact: DataFrame) -> DataFrame:
    """R3 Ambulatorio C1 (:415-429): first service per patient-day → 1."""
    scope = fact.filter(
        (F.col("tipologia") == "C1") & _nz("COD_PLAN").startswith("PGP")
    ).select(ROW_ID, "DOC_PACIENTE", "FEC_SERVICIO")
    return keep_first(scope, keys=["DOC_PACIENTE", "FEC_SERVICIO"]).select(
        ROW_ID, F.lit(1).alias("validacion")
    )


def _c4_scope() -> Column:
    return (F.col("AMBITO") == "CONSULTA EXTERNA") & (F.col("tipologia") == "C4")


def _c4_zero_marks(fact: DataFrame) -> DataFrame:
    """R4's invoice-membership zeroing (:431-456) as a mark set: C4
    consulta-externa rows whose SERVICIO is in the invalidation list
    AND whose invoice carries a 132P01 row get 0.

    Both semi-join sides are narrow (scoped row ids, distinct 132P01
    invoices), so the wide frame crosses no exchange for this flag.
    Invoices compare null-as-empty on both sides — the reference's
    ``fillna('')`` + ``isin`` — so a NULL-invoice row is zeroed when
    another NULL-invoice row carries 132P01."""
    has132 = (
        fact.filter(F.col("SERVICIO") == "132P01")
        .select(_nz("FACTURA").alias("__inv"))
        .distinct()
    )
    scope = fact.filter(
        _c4_scope()
        & F.col("SERVICIO").isin("890285", "890385", "890384", "890284", "890502")
    ).select(ROW_ID, _nz("FACTURA").alias("__inv"))
    return scope.join(has132, "__inv", "left_semi").select(
        ROW_ID, F.lit(0).alias("validacion")
    )


def _c5_marks(fact: DataFrame) -> DataFrame:
    """R7 Consultorio urgencias (:484-543): C5 rows deduped on INGRESO
    in (patient, dx, date) order, then the anchor-reset >3-day gap fold
    per (patient, dx) — the engine's one grouped-map stage."""
    scope = fact.filter(F.col("tipologia") == "C5").select(
        ROW_ID,
        "INGRESO",
        "DOC_PACIENTE",
        F.col("`DX_PRINCIPAL.1`").alias("__dx"),
        "FEC_SERVICIO",
    )
    scope = keep_first(
        scope,
        keys=["INGRESO"],
        order_by=["DOC_PACIENTE", "__dx", "FEC_SERVICIO", ROW_ID],
    )
    return gap_anchor_mark(
        scope,
        group_keys=["DOC_PACIENTE", "__dx"],
        ts_col="FEC_SERVICIO",
        order_by=["FEC_SERVICIO", ROW_ID],
        gap_days=3,
    ).select(ROW_ID, "validacion")


def _qx1_marks(fact: DataFrame) -> DataFrame:
    """R8 Parto/cesárea (:546-559): every Qx1 row, 1 for the first per
    (FACTURA, SERVICIO), 0 for the rest (this overwrites R1 marks)."""
    scope = fact.filter(F.col("tipologia") == "Qx1").select(
        ROW_ID, "FACTURA", "SERVICIO"
    )
    return first_flag(scope, keys=["FACTURA", "SERVICIO"]).select(
        ROW_ID, "validacion"
    )


Branches = list[tuple[Column, Column]]


def _marked(hit: Column, mark: Column) -> Branches:
    return [(hit, mark)]


@dataclass(frozen=True)
class Rule:
    """One entry of :data:`RULE_TABLE`. ``branches(hit, mark)`` returns
    the rule's CASE branches, first match wins; ``hit`` is true on rows
    whose winning mark is this rule's, ``mark`` is that mark's flag."""

    branches: Callable[[Column, Column], Branches] = _marked
    marks: Callable[[DataFrame], DataFrame] | None = None


# The rules in reference order (:320-568) — table position is fold
# position. The keys name the per-rule entry points below.
RULE_TABLE: dict[str, Rule] = {
    "qx": Rule(marks=_qx_marks),  # R1
    "egreso": Rule(marks=_egreso_marks),  # R2
    "c1": Rule(marks=_c1_marks),  # R3
    # R4: the 132P01 zeroing wins within the rule, then 890502 →
    # CANT_SERVICIO, every other C4 consulta-externa row → 1
    "c4": Rule(
        lambda hit, mark: [
            (hit, mark),
            (_c4_scope() & (F.col("SERVICIO") == "890502"), F.col("CANT_SERVICIO")),
            (_c4_scope() & (F.col("SERVICIO") != "890502"), F.lit(1)),
        ],
        _c4_zero_marks,
    ),
    # R5 (:458-467): C7 → CANT_SERVICIO; C8 in consulta externa → CANT_SERVICIO
    "c7_c8": Rule(
        lambda hit, mark: [
            (F.col("tipologia") == "C7", F.col("CANT_SERVICIO")),
            (
                (F.col("tipologia") == "C8") & (F.col("AMBITO") == "CONSULTA EXTERNA"),
                F.col("CANT_SERVICIO"),
            ),
        ]
    ),
    # R6 (:470-481): HD → 1, ARI → 1
    "hd_ari": Rule(
        lambda hit, mark: [(F.col("tipologia").isin("HD", "ARI"), F.lit(1))]
    ),
    # R7: the gap-fold marks, then every other C5 row is zeroed (:487-488)
    "c5": Rule(
        lambda hit, mark: [(hit, mark), (F.col("tipologia") == "C5", F.lit(0))],
        _c5_marks,
    ),
    "qx1": Rule(marks=_qx1_marks),  # R8
    # R9 Resonancia (:562-568): RM → CANT_SERVICIO
    "rm": Rule(
        lambda hit, mark: [(F.col("tipologia") == "RM", F.col("CANT_SERVICIO"))]
    ),
}


def _fold(fact: DataFrame, rules: Iterable[Rule]) -> DataFrame:
    """Apply ``rules`` (an ordered subset of :data:`RULE_TABLE`) to
    ``fact`` as one plan: the mark sets unioned with their rank, the
    highest-ranked mark kept per row, ONE row-id join, one CASE."""
    ranked = list(enumerate(rules, 1))
    marks = [
        rule.marks(fact).select(
            F.col(ROW_ID),
            F.lit(rank).alias("__mark_rank"),
            F.col("validacion").cast("int").alias("__mark_v"),
        )
        for rank, rule in ranked
        if rule.marks is not None
    ]
    if marks:
        # each rule emits ≤1 mark per row id and ranks are distinct, so
        # max_by is deterministic
        best = reduce(DataFrame.unionByName, marks).groupBy(ROW_ID).agg(
            F.max_by("__mark_v", "__mark_rank").alias("__mark_v"),
            F.max("__mark_rank").alias("__mark_rank"),
        )
        # both sides are O(fact), so broadcast is unsafe; the narrow
        # aggregated marks build the hash table, and the hint spares the
        # wide enriched fact the full sort a SortMergeJoin would need
        fact = fact.join(best.hint("shuffle_hash"), on=ROW_ID, how="left")

    v = None
    for rank, rule in reversed(ranked):
        hit = F.col("__mark_rank") == rank
        for cond, value in rule.branches(hit, F.col("__mark_v")):
            v = F.when(cond, value) if v is None else v.when(cond, value)
    v = v.otherwise(F.col("validacion"))
    return fact.withColumn("validacion", v).drop("__mark_rank", "__mark_v")


def apply_rules(fact: DataFrame) -> DataFrame:
    """The full rule engine: :func:`_fold` over every :data:`RULE_TABLE`
    entry. Physical shape: one shuffle for the (small, scoped) mark
    union and ONE shuffled-hash row-id join against the fact.

    The enriched input arrives PINNED from :func:`run_pipeline`: the
    earlier recompute-per-mark design re-measured slower once the fact
    build was pre-filtered (interleaved A/B at sf0.1: pinned 5.95 s vs
    recompute 6.75 s min-of-4). What pins is the month-scoped batch
    plus the enrichment columns, not the raw input.
    """
    return _fold(fact, RULE_TABLE.values())


# per-rule entry points: the fold over one table entry
def rule_qx(fact: DataFrame) -> DataFrame:
    return _fold(fact, [RULE_TABLE["qx"]])


def rule_egreso(fact: DataFrame) -> DataFrame:
    return _fold(fact, [RULE_TABLE["egreso"]])


def rule_c1(fact: DataFrame) -> DataFrame:
    return _fold(fact, [RULE_TABLE["c1"]])


def rule_c4(fact: DataFrame) -> DataFrame:
    return _fold(fact, [RULE_TABLE["c4"]])


def rule_c7_c8(fact: DataFrame) -> DataFrame:
    return _fold(fact, [RULE_TABLE["c7_c8"]])


def rule_hd_ari(fact: DataFrame) -> DataFrame:
    return _fold(fact, [RULE_TABLE["hd_ari"]])


def rule_c5(fact: DataFrame) -> DataFrame:
    return _fold(fact, [RULE_TABLE["c5"]])


def rule_qx1(fact: DataFrame) -> DataFrame:
    return _fold(fact, [RULE_TABLE["qx1"]])


def rule_rm(fact: DataFrame) -> DataFrame:
    return _fold(fact, [RULE_TABLE["rm"]])


def comprobar(fact: DataFrame) -> DataFrame:
    """The unmatched-patients side output (:274-318): patients with no
    affiliation, name split into 4 parts by the F2 pandas UDF."""
    base = (
        fact.filter(F.col("ips").isNull())
        .select("DOC_PACIENTE", "NOMBRE_PACIENTE")
        .dropDuplicates()
    )
    parts = base.withColumn("__p", split_full_name("NOMBRE_PACIENTE"))
    return parts.select(
        "DOC_PACIENTE",
        F.col("__p.nombre1").alias("nombre1"),
        F.col("__p.nombre2").alias("nombre2"),
        F.col("__p.apellido1").alias("apellido1"),
        F.col("__p.apellido2").alias("apellido2"),
    )


def finalize(fact: DataFrame) -> DataFrame:
    """Stringify dates and project the published schema (:575-596)."""
    fact = fact.withColumn("FECHA_FACT", date_to_text("FECHA_FACT"))
    fact = fact.withColumn("FEC_SERVICIO", date_to_text("FEC_SERVICIO"))
    # backtick-quote so dotted names (DX_PRINCIPAL.0/.1 — pandas' dedup
    # suffixing in the reference, SURVEY.md §1.1) resolve as flat columns
    return fact.select(*[F.col(f"`{c}`") for c in OUTPUT_COLUMNS])


def run_pipeline(
    fact: DataFrame,
    codigos: DataFrame,
    tipologia: DataFrame,
    anexos: DataFrame,
    bases: DataFrame,
    mes: int,
    parse_dates: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Full DAG: ingest filters → parse/cast → enrich → rules → project.
    Returns (capital_sendas, comprobar).

    Execution is driven by :data:`.lineage.STAGES` — the importable
    mirror of the reference's own metadata graph
    (``grafo_sendas.html:586``), so every named stage here traces to
    the graph nodes it realizes (tables, Condicion_*, Regla_*,
    Calculo_*). See :mod:`etl_sendas_spark.plans.lineage`.

    The month-scoped, row-id'd fact is pinned as a stage table before
    enrichment, and the enriched frame again before the rule engine.
    The engine reads the fact from 6 mark sets + the main pass +
    comprobar; without the pin each consumer re-executes the scan →
    row-number range shuffle → source joins (measured 8.96 s vs 6.62 s
    at sf0.1). The month filter keeps a small fraction of the input
    (7.8 % on the driver fact), so what materializes is the scoped
    batch — the stage table the reference itself writes between phases
    (``capital_sendas.py:600``) — not the raw input.

    The pin mechanism is :func:`..materialize.materialize`, selected by
    the ``spark.etl_sendas.materialize`` conf: ``local`` (default,
    ``localCheckpoint`` — fastest, not fault-tolerant), ``reliable`` or
    ``parquet`` on a cluster so a lost executor can't kill the run, and
    ``none`` to keep the plan fully lazy.
    """
    from ..materialize import materialize as _pin
    from .lineage import STAGES

    impls = {
        "ingest_filters": ingest_filters,
        "parse_and_filter_month": lambda df: parse_and_filter_month(
            df, mes, parse_dates=parse_dates
        ),
        "enrich": lambda df: enrich(df, codigos, tipologia, anexos, bases),
        "apply_rules": apply_rules,
        "finalize": finalize,
    }
    for stage in STAGES:
        if stage.name == "enrich":
            if ROW_ID not in fact.columns:
                # the rule engine threads row identity from here on
                fact = with_row_id(fact)
            fact = _pin(fact, name="fact_stage")
        if stage.name == "apply_rules":
            # Pin the ENRICHED frame too: re-running the (broadcast)
            # enrichment per consumer measures SLOWER than one wide pin
            # of the month-scoped batch (A/B at sf0.1, interleaved
            # min-of-4: fact-only 6.75 s, fact+enriched 5.95 s; the
            # enriched pin adds ~8 derived columns to rows already
            # scoped to the month).
            fact = _pin(fact, name="enriched_stage")
        if stage.name == "finalize":
            return impls[stage.name](fact), comprobar(fact)
        fact = impls[stage.name](fact)
    raise RuntimeError("lineage.STAGES must end with the finalize stage")
