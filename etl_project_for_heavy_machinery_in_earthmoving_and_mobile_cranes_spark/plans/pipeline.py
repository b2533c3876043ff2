"""The reference cleaning pipeline as a lazy DataFrame chain cut at its
three fork points.

Reference lifecycle (SURVEY §3.1, notebook cells 4→60): coerce/derive →
min-amount filter → normalize → brand/model containment match → type &
new/used & parts labels → two regex-KB passes → capacity-from-text →
band-join model inference → outlier marking → interval binning → FX
conversion → model de-spacing.

Internal representation uses typed NULLs (never 'UNKNOWN' sentinels);
``render_export`` writes sentinels at the boundary (SURVEY §1.4).

Scale notes: the dims (model_ref, regex_kb, fx) broadcast; the fact
table is never shuffled except (a) winner-selection over *matched* rows
keyed by shipment_id and (b) the outlier median groupBy — both AQE-
coalesced.  No Python UDFs anywhere.

Each stage adds its columns in one ``withColumns``/``select`` step: every
``withColumn`` call re-analyzes the whole plan below it.  ``run_pipeline``
materializes the fact table at the three frames that later stages fork
(see its docstring), so the plan it returns starts at the last cut.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import labels as L
from ..functions import text as T
from ..operators import fuzzy_join as FJ
from ..operators import outliers as OU
from ..operators import range_join as RJ
from ..operators.fx import convert_usd_to_cny

# reference remark vocabulary (prog.py:102,107,111,162,198-205,251,275)
R_FULL = "Fully match"
R_BRAND_ONLY = "Brands existed but without models"
R_NONE = "No match"
R_PARTS = "Parts"
R_RX_UNIQUE = "Unique model match with regex"
R_RX_MULTI = "Keep the longest from the multiple matched"
R_RX_NB_UNIQUE = "No brand in description, and unique model match with regex"
R_RX_NB_MULTI = "No brand in description, and keep the longest from the multiple matched"
R_CAPACITY = "Description contains working capacity"
R_INFERRED = "Model is inferenced with existed infomation"  # sic (prog.py:275)

ID = "shipment_id"


# ---------------------------------------------------------------------------
# Stage 1 — coerce & derive (P1-P3, F1)
# ---------------------------------------------------------------------------


def coerce_and_derive(df: DataFrame, min_amount: float = 10000.0) -> DataFrame:
    # F1 FIRST, on the RAW price column: notebook cell 11 runs two
    # sequential keeps (amount >= 10k AND price >= 10k) BEFORE the unit
    # price is recomputed in cell 13.
    keep = (F.col("amount_in_usd") >= min_amount) & (F.col("price_in_usd") >= min_amount)
    out = df.filter(keep)
    qty = F.col("qty").cast("double")
    weight = F.col("weight_in_kg").cast("double")
    return out.withColumns(
        {
            "qty_n": qty,
            "weight_kg_n": weight,
            "date_parsed": F.to_date(F.col("date"), "yyyy/MM/dd"),
            "price_in_usd": F.when(qty != 0, F.col("amount_in_usd") / qty),
            "unit_weight_in_ton": F.when(qty != 0, weight / qty / 1000),
        }
    )


# ---------------------------------------------------------------------------
# Stage 2 — normalize (T1-T3) + irrelevant anti-filter (F2)
# ---------------------------------------------------------------------------


def normalize(df: DataFrame) -> DataFrame:
    out = df.withColumns(
        {
            "description2": T.normalize_text(F.col("product_description"), alias_brands=True),
            "supplier2": T.normalize_text(F.col("supplier"), alias_brands=True),
        }
    )
    return out.filter(T.irrelevant_keyword_filter(F.col("description2")))


# ---------------------------------------------------------------------------
# Stage 3 — containment matching (J1 brand, J2 model) + remark
# ---------------------------------------------------------------------------


def match_catalog(
    df: DataFrame, model_ref: DataFrame, despace_variant: bool = True
) -> DataFrame:
    ref = model_ref.withColumn("model_ref", T.despace(F.upper(F.col("model"))))

    # J1: first brand (by ref table order) contained in description2 OR
    # supplier2 (prog.py:75-89)
    brands = ref.groupBy(F.col("brand").alias("b_brand")).agg(
        F.min("ref_idx").alias("brand_prio")
    )
    b_hit = (F.instr(F.col("description2"), F.col("b_brand")) > 0) | (
        F.instr(F.col("supplier2"), F.col("b_brand")) > 0
    )
    b_matched = df.select(ID, "description2", "supplier2").join(
        F.broadcast(brands), on=b_hit, how="inner"
    )
    b_win = FJ.pick_winner(b_matched, ID, [F.col("brand_prio")]).select(
        ID, F.col("b_brand").alias("brand")
    )
    out = df.join(b_win, on=ID, how="left")

    # J2: longest catalog model of the matched brand contained in
    # description2 (prog.py:90-101); ties → first ref row
    refm = ref.select(
        F.col("brand").alias("m_brand"),
        "ref_idx",
        "model_ref",
        F.col("capacity").alias("m_capacity"),
        F.col("type").alias("m_type"),
        F.col("hp").alias("m_hp"),
    )
    # containment on the raw text, plus a space-insensitive variant for
    # catalog keys that carry no spaces while the description spells the
    # model spaced ('MODEL 330 GC' vs key '330GC') — needed when the
    # catalog is reconstructed from de-spaced export values.  The
    # variant is TOKEN-ANCHORED: the key must be a prefix of the
    # space-stripped text starting at some token boundary.  Naively
    # de-spacing the whole text would manufacture cross-token
    # candidates ('305' inside 'MODEL 313 05B' → '…31305B…'), which the
    # reference (plain substring on spaced text, prog.py:93-95) never
    # produces — caught against golden rows labeled 313.
    m_hit = F.instr(F.col("description2"), F.col("model_ref")) > 0
    fact_cols = [ID, "description2", "brand"]
    base = out.filter(F.col("brand").isNotNull())
    if despace_variant:
        toks = F.split(F.col("description2"), " ")
        sufjoin = F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1))),
            lambda i: F.concat_ws("", F.slice(toks, i, 1_000_000)),
        )
        base = base.select(*fact_cols).withColumn("__sufjoin", sufjoin)
        m_hit = m_hit | F.exists(
            F.col("__sufjoin"), lambda s: s.startswith(F.col("model_ref"))
        )
        fact_cols = fact_cols + ["__sufjoin"]
    m_matched = (
        base.select(*fact_cols)
        .join(
            F.broadcast(refm),
            on=(F.col("brand") == F.col("m_brand")) & m_hit,
            how="inner",
        )
    )
    m_win = FJ.pick_winner(
        m_matched, ID, [-F.length("model_ref"), F.col("ref_idx")]
    ).select(
        ID,
        F.col("model_ref").alias("model"),
        F.col("m_capacity").alias("capacity"),
        F.col("m_type").alias("type"),
        F.col("m_hp").alias("hp"),
    )
    out = out.join(m_win, on=ID, how="left")

    remark = (
        F.when(F.col("brand").isNotNull() & F.col("model").isNotNull(), R_FULL)
        .when(F.col("brand").isNotNull(), R_BRAND_ONLY)
        .otherwise(R_NONE)
    )
    return out.withColumn("remark", remark)


# ---------------------------------------------------------------------------
# Stage 4 — label cascades (C1-C4)
# ---------------------------------------------------------------------------


def label_cascades(
    df: DataFrame, file_type: str = "excavator", strict_reference_compat: bool = False
) -> DataFrame:
    d2 = F.col("description2")
    typer = L.excavator_type if file_type == "excavator" else L.crane_type
    return df.withColumns(
        {
            "type": typer(d2, F.col("type")),
            "new_used": L.new_or_used(d2, strict_reference_compat),
            "remark": F.when(L.is_parts(d2), R_PARTS).otherwise(F.col("remark")),
        }
    )


# ---------------------------------------------------------------------------
# Stage 5 — regex knowledge-base passes (J3)
# ---------------------------------------------------------------------------


def _regex_pass(
    df: DataFrame,
    kb: DataFrame,
    scope: Column,
    brand_scoped: bool,
    remark_unique: str,
    remark_multi: str,
) -> DataFrame:
    """One search_regex pass (prog.py:167-236).  Candidates restricted to
    the row's brand when ``brand_scoped``; LAST matching pattern in table
    order wins (kb_order desc); extracted model = longest findall hit;
    capacity from the winning row's capacity_regex + starting_point code.
    """
    kbx = kb.select(
        "kb_order",
        F.col("brand").alias("rx_brand"),
        "model_regex",
        "capacity_regex",
        "category",
        "starting_point",
    )
    facts = df.filter(scope).select(ID, "description2", "brand")
    pred = F.regexp_like(F.col("description2"), F.col("model_regex"))
    if brand_scoped:
        pred = (F.col("brand") == F.col("rx_brand")) & pred
    matched = facts.join(F.broadcast(kbx), on=pred, how="inner")
    win = FJ.pick_winner(matched, ID, [-F.col("kb_order")])

    hits = F.regexp_extract_all(F.col("description2"), F.col("model_regex"), F.lit(0))
    new_model = FJ.longest_regex_hit(F.col("description2"), F.col("model_regex"))
    new_cap = F.when(
        F.col("starting_point") == 2, F.lit(None).cast("double")
    ).otherwise(
        FJ.starting_point_capacity(
            new_model, F.col("capacity_regex"), F.col("starting_point")
        )
    )
    upd = win.select(
        ID,
        F.col("rx_brand"),
        new_model.alias("rx_model"),
        F.col("category").alias("rx_type"),
        new_cap.alias("rx_capacity"),
        F.when(F.size(F.array_distinct(hits)) > 1, remark_multi)
        .otherwise(remark_unique)
        .alias("rx_remark"),
    )
    out = df.join(upd, on=ID, how="left")
    hit = F.col("rx_model").isNotNull()
    rx = {c: f"rx_{c}" for c in ("brand", "model", "type", "capacity", "remark")}
    return out.select(
        *[
            F.when(hit, F.col(rx[c])).otherwise(F.col(c)).alias(c) if c in rx else c
            for c in out.columns
            if c not in rx.values()
        ]
    )


def regex_stage(df: DataFrame, regex_kb: DataFrame) -> DataFrame:
    # pass 1 (nb cell 29): brand-scoped, rows with brand but no model
    out = _regex_pass(
        df, regex_kb, F.col("remark") == R_BRAND_ONLY, True, R_RX_UNIQUE, R_RX_MULTI
    )
    # pass 2 (nb cell 30): global, rows still unmatched
    return _regex_pass(
        out, regex_kb, F.col("remark") == R_NONE, False, R_RX_NB_UNIQUE, R_RX_NB_MULTI
    )


# ---------------------------------------------------------------------------
# Stage 6 — capacity from free text (T7)
# ---------------------------------------------------------------------------


def capacity_from_text(df: DataFrame) -> DataFrame:
    extracted = T.extract_capacity_tons(F.col("description2"))
    fired = F.col("capacity").isNull() & extracted.isNotNull()
    return df.withColumns(
        {
            "remark": F.when(fired & (F.col("remark") == R_NONE), R_CAPACITY).otherwise(
                F.col("remark")
            ),
            "capacity": F.when(fired, extracted).otherwise(F.col("capacity")),
        }
    )


# ---------------------------------------------------------------------------
# Stage 7 — band-join model inference (J5)
# ---------------------------------------------------------------------------


def infer_models(df: DataFrame, tol: float = 0.05) -> DataFrame:
    out = RJ.infer_unknown_models(
        df, id_col=ID, brand="brand", type_col="type", model="model",
        capacity="capacity", tol=tol,
    )
    return out.withColumn(
        "remark", F.when(F.col("__model_inferred"), R_INFERRED).otherwise(F.col("remark"))
    ).drop("__model_inferred")


# ---------------------------------------------------------------------------
# Stage 8 — outliers (X1), intervals (C5/C6), FX (J7), de-spacing (T4)
# ---------------------------------------------------------------------------


def mark_price_outliers(df: DataFrame) -> DataFrame:
    # prog.py:302 also bails when capacity is unknown, but the golden
    # output judges every capacity-UNKNOWN model-known new row ('no' ×9
    # in the batch) — the published run used model-unknown-or-used only
    # (COMPAT.md #15)
    unknown_if = F.col("model").isNull() | (F.col("new_used") == "used")
    # golden output (Output/Indonesia_excavator_2022_2024.07.xlsx) uses
    # lowercase 'unknown' in the outliers column — unlike the 'UNKNOWN'
    # sentinel everywhere else (COMPAT.md)
    return OU.mark_outliers(
        df, ["brand", "model"], "price_in_usd", lo=0.8, hi=1.2,
        unknown_if=unknown_if, unknown_label="unknown",
    )


def add_intervals(df: DataFrame, file_type: str = "excavator", width: int = 10) -> DataFrame:
    if file_type == "excavator":
        evaluate = F.coalesce(F.col("capacity"), F.col("unit_weight_in_ton"))
    else:
        evaluate = F.col("capacity")
    return df.withColumns(
        {
            "capacity_interval": L.load_interval(evaluate, width=width, kind=file_type),
            "type_interval": L.excavator_type_interval(evaluate),
        }
    )


def finalize(df: DataFrame, fx: DataFrame | None, datasource: str | None) -> DataFrame:
    out = df
    if fx is not None:
        out = convert_usd_to_cny(out, fx, date_col="date_parsed")
    cols = {"model": T.despace(F.col("model"))}
    if datasource is not None:
        cols["datasource"] = F.lit(datasource)
    return out.withColumns(cols)


def render_export(df: DataFrame) -> DataFrame:
    """Sentinel rendering at the export boundary (C7 / SURVEY §1.4)."""
    return df.withColumns(
        {c: L.render_unknown(F.col(c)) for c in ["brand", "model", "type", "capacity", "outliers"]}
    )


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------


def run_pipeline(
    shipments: DataFrame,
    model_ref: DataFrame,
    regex_kb: DataFrame,
    fx_rates: DataFrame | None = None,
    file_type: str = "excavator",
    min_amount: float = 10000.0,
    interval_width: int = 10,
    datasource: str | None = None,
    strict_reference_compat: bool = False,
) -> DataFrame:
    """Full cleaning pipeline; returns the enriched DataFrame with typed
    NULLs (call ``render_export`` for the sentinel-rendered view).

    The match/regex/inference stages each fork the fact table (winner-
    selection branch + main branch joined back on the id).  The frames
    they fork are cut from their lineage with an eager
    ``localCheckpoint``, so the call itself runs three materialization
    jobs (after ``normalize``, ``label_cascades`` and
    ``capacity_from_text``) and the returned frame's plan starts at the
    last cut, a ``LogicalRDD`` leaf that keeps its origin's statistics
    (broadcast choices are unchanged).  Without the cuts every fork and
    every later ``withColumn``/``join`` re-analyzes the whole upstream
    plan (thousands of operators on a fixture batch).

    Trade-off: checkpoint blocks (MEMORY_AND_DISK) have no lineage, so a
    lost executor fails the batch instead of recomputing it.  The forked
    frames are batch-sized, which makes that the cheaper risk here.  The
    blocks are not released by ``spark.catalog.clearCache()``; Spark's
    context cleaner drops them once the returned frame is garbage."""
    df = coerce_and_derive(shipments, min_amount=min_amount)
    df = normalize(df).localCheckpoint(eager=True)  # forked by J1/J2
    df = match_catalog(df, model_ref)
    df = label_cascades(
        df, file_type=file_type, strict_reference_compat=strict_reference_compat
    ).localCheckpoint(eager=True)  # forked by J3 passes
    df = regex_stage(df, regex_kb)
    df = capacity_from_text(df).localCheckpoint(eager=True)  # forked by J5 + outlier median
    df = infer_models(df)
    df = mark_price_outliers(df)
    df = add_intervals(df, file_type=file_type, width=interval_width)
    df = finalize(df, fx_rates, datasource)
    return df
