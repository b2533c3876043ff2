"""Seeded input generator for the customs-cleaning benchmark.

Everything is built from ``random.Random(seed)`` alone: a model catalog
(thousands of models), a regex knowledge base (hundreds of patterns), FX
rates, raw shipment batches with the 27 columns of
``schemas.SHIPMENTS_SCHEMA``, and a pre-cleaned history table.

Every shipment row is planted on exactly one match path of
``plans.pipeline`` and its true (brand, model, remark) is recorded, so the
benchmark can check the pipeline's output row by row.  Unambiguity holds by
construction:

- brand names are 6-letter syllable words that are not substrings of any
  filler word, supplier, alias or other brand, so J1 finds exactly the
  planted brand (or none);
- every model token is a brand-specific 2-letter prefix + 3 digits + 1
  letter, all catalog keys have the same length, and regex series use
  2-letter prefixes disjoint from the catalog's, so J2 and the two regex
  passes see exactly one candidate;
- filler text carries no letter+digit token, no capacity phrase, no parts
  marker and no irrelevant keyword unless the path asks for one.
"""

from __future__ import annotations

import datetime as dt
import random
import re
from dataclasses import dataclass

# remark vocabulary of plans/pipeline.py (the program's output contract)
R_FULL = "Fully match"
R_BRAND_ONLY = "Brands existed but without models"
R_NONE = "No match"
R_PARTS = "Parts"
R_RX_UNIQUE = "Unique model match with regex"
R_RX_MULTI = "Keep the longest from the multiple matched"
R_RX_NB_UNIQUE = "No brand in description, and unique model match with regex"
R_RX_NB_MULTI = "No brand in description, and keep the longest from the multiple matched"
R_CAPACITY = "Description contains working capacity"
R_INFERRED = "Model is inferenced with existed infomation"

# planted paths and their share of a batch
PATH_WEIGHTS = {
    "full": 36,
    "brand_only": 7,
    "regex1": 10,
    "regex2": 10,
    "capacity": 6,
    "inferred": 7,
    "parts": 6,
    "none": 6,
    "drop_f1": 6,
    "drop_f2": 6,
}

# words that would trip a filter, a label rule or an alias if they
# appeared inside generated names
_FORBIDDEN = [
    "CARRIER", "TELESCOPLADER", "HARBOUR", "OPEN SHEET", "STACK", "BOAT",
    "BACKHOE", "SKID", "ROLLER", "BENZ", "TELEHANDLER", "LOADER", "FORK",
    "PAVER", "BRIDGE", "REACH", "HANDER", "GRABBER", "GANTRY", "BACK HOE",
    "PORT", "MERCEDES", "SPIDER", "PIPE", "HANDLING", "GLASS CRANE", "LOAD",
    "GRADER", "CKD", "SKD", "PARTIAL", "NEW", "USED", "TIRE", "TON", "CAT",
    "OLD", "AMPHIBIOUS", "CRAWLER", "WHEEL", "XUZHOU", "MANITOWOC",
    "MARUBENI", "TOYOTA", "SHANDONG", "HIDROMEK", "REFURBISH", "UNITS",
]
FILLER = [
    "HYDRAULIC EXCAVATOR", "EXCAVATOR", "EXCAVATOR COMPLETE WITH BUCKET",
    "HEAVY EQUIPMENT", "MACHINE WITH STANDARD ARM", "EXCAVATOR UNIT",
    "EARTHMOVING MACHINE", "EXCAVATOR WITH ATTACHMENT", "MINING EXCAVATOR",
    "ATTACHMENT INCLUDED", "SERIAL NUMBER ATTACHED", "GOOD CONDITION",
    "STANDARD SPECIFICATION", "EXCAVATOR FOR CONSTRUCTION",
]
SUPPLIERS = [
    "PT SINAR JAYA", "GLOBAL TRADING LTD", "ASIA MACHINERY CORP",
    "PACIFIC EQUIPMENT CO", "EURO HEAVY INDUSTRY", "ORIENT SUPPLY LTD",
    "JAKARTA MACHINE CENTER", "EASTERN GROUP", "PRIMA ABADI",
]
CATALOG_TYPES = ["EXCAVATOR"] * 6 + ["WHEEL EXCAVATOR", "MINI EXCAVATOR", "CRAWLER CRANE"]
KB_CATEGORIES = ["EXCAVATOR", "WHEEL EXCAVATOR", "CRAWLER CRANE", "ROUGH-TERRAIN CRANE"]
STARTING_POINTS = [0, 0, 0, 1, 2, 3, -1, -2]
INTERVALS = ["<5T", "5-10T", "10-20T", "20-30T", "30-40T", "40-50T", "UNKNOWN"]
NEW_USED = ["new", "new", "new", "used"]


@dataclass
class Catalog:
    model_ref: list[tuple]   # MODEL_REF_SCHEMA rows
    regex_kb: list[tuple]    # REGEX_KB_SCHEMA rows
    fx: list[tuple]          # FX_RATES_SCHEMA rows
    brands: list[str]
    models: dict[str, list[tuple]]   # brand -> [(model, capacity, type)]
    series: dict[str, list[tuple]]   # brand -> [(prefix, category, starting_point)]


@dataclass
class Batch:
    rows: list[dict]
    expected: dict[int, tuple]       # id -> (brand, model, remark), unambiguous rows
    paths: dict[int, str]            # id -> planted path

    @property
    def kept_ids(self) -> set[int]:
        """Ids of the rows the F1 and F2 filters keep."""
        return {sid for sid, p in self.paths.items() if not p.startswith("drop_")}


def _word(rng: random.Random, n_syll: int = 3) -> str:
    cons, vows = "BDFGKLMNPRSTVZ", "AEIOU"
    return "".join(rng.choice(cons) + rng.choice(vows) for _ in range(n_syll))


def _clean_name(name: str, taken: set[str]) -> bool:
    if name in taken or any(f in name for f in _FORBIDDEN):
        return False
    texts = FILLER + SUPPLIERS
    return not any(name in t or t in name for t in texts)


def make_catalog(
    rng: random.Random,
    n_brands: int = 60,
    models_per_brand: int = 50,
    series_per_brand: int = 5,
) -> Catalog:
    """``n_brands * models_per_brand`` catalog rows and
    ``n_brands * series_per_brand`` regex patterns."""
    brands: list[str] = []
    taken: set[str] = set()
    while len(brands) < n_brands:
        b = _word(rng)
        if _clean_name(b, taken):
            brands.append(b)
            taken.add(b)
    letters = "ABCDEFGHJKLMNPQRSTVWXYZ"
    prefixes = [a + b for a in letters for b in letters]
    rng.shuffle(prefixes)
    prefixes = [p for p in prefixes if not any(f in p for f in ("CK", "SK"))]
    need = n_brands * (1 + series_per_brand)
    if len(prefixes) < need:
        raise ValueError("not enough distinct model prefixes for this catalog size")
    model_ref, models, series, kb = [], {}, {}, []
    ref_idx = 0
    for i, b in enumerate(brands):
        pref = prefixes[i]
        nums = rng.sample(range(100, 1000), models_per_brand)
        models[b] = []
        for n in nums:
            ref_idx += 1
            m = f"{pref}{n}{rng.choice('ABCEGHKLMRSTVZ')}"
            cap = round(rng.uniform(1.0, 90.0), 1)
            typ = rng.choice(CATALOG_TYPES)
            hp = round(cap * rng.uniform(6.0, 9.0), 1)
            model_ref.append((ref_idx, b, m, cap, typ, hp))
            models[b].append((m, cap, typ))
        series[b] = []
        for j in range(series_per_brand):
            p = prefixes[n_brands + i * series_per_brand + j]
            series[b].append((p, rng.choice(KB_CATEGORIES), rng.choice(STARTING_POINTS)))
    patterns = [(b, p, cat, sp) for b in brands for (p, cat, sp) in series[b]]
    rng.shuffle(patterns)
    for order, (b, p, cat, sp) in enumerate(patterns, start=1):
        kb.append((order, b, p + r"\d{3,4}", p + r"(\d+)", cat, sp))
    fx = [(y, m, round(rng.uniform(6.3, 7.4), 4)) for y in range(2021, 2027) for m in range(1, 13)]
    return Catalog(model_ref, kb, fx, brands, models, series)


def regex_capacity(token: str, prefix: str, sp: int) -> float | None:
    """Mirror of the J3 starting_point rule, used only to know which
    regex-matched rows become band-join candidates."""
    num = token[len(prefix):]
    if sp == 0:
        return float(num) / 10
    if sp == 1:
        return float(num[1:]) / 10
    if sp == 2:
        return None
    if sp == 3:
        return float(num)
    if sp == -2:
        return float(num[2:])
    return float(num[1:])


_BASE = dict(
    hs_code="84295200",
    code_description="Excavators; self-propelled, w/360 deg revolving superstructure",
    importer="PT BENCH IMPORTER",
    original_country="JAPAN",
    original_state="TOKYO",
    unit="Number of international units",
    declaration_number=None,
    import_export="Import",
    destination_port="TANJUNG PRIOK",
    foreign_port="YOKOHAMA",
    importer_address="JAKARTA",
    exporter_address="TOKYO",
    currency="USD",
    amount_in_idr=None,
    price_in_idr=None,
    unit_price_in_usd_by_weight=None,
    amount_in_contract=None,
    price_in_contract=None,
)

SHIPMENT_COLUMNS = [
    "shipment_id", "month", "hs_code", "product_description", "code_description",
    "importer", "supplier", "original_country", "original_state", "qty", "unit",
    "amount_in_usd", "price_in_usd", "amount_in_contract", "price_in_contract",
    "date", "declaration_number", "import_export", "destination_port",
    "foreign_port", "importer_address", "exporter_address", "currency",
    "amount_in_idr", "price_in_idr", "unit_price_in_usd_by_weight", "weight_in_kg",
]


def _noise(rng: random.Random, text: str) -> str:
    """Punctuation, case and spacing noise that normalize() removes."""
    r = rng.random()
    if r < 0.15:
        text = text.replace(" ", ", ", 1)
    elif r < 0.25:
        text = f"[{text}]"
    elif r < 0.35:
        text = text.replace(" ", "  ")
    elif r < 0.45:
        text = text.lower()
    elif r < 0.5:
        text = text + "*"
    return text


def make_batch(
    rng: random.Random, cat: Catalog, n_rows: int, id_base: int, month: int
) -> Batch:
    """One raw shipments batch of ``month`` (yyyymm)."""
    y, mo = divmod(month, 100)
    paths = list(PATH_WEIGHTS)
    weights = [PATH_WEIGHTS[p] for p in paths]
    rows: list[dict] = []
    plan: dict[int, str] = {}
    info: dict[int, tuple] = {}
    for k in range(n_rows):
        sid = id_base + k
        path = rng.choices(paths, weights)[0]
        b = rng.choice(cat.brands)
        fill = rng.choice(FILLER)
        supplier = rng.choice(SUPPLIERS)
        amount = round(rng.uniform(15000.0, 400000.0), 2)
        model_info = None
        if path in ("full", "parts"):
            m, cap, typ = rng.choice(cat.models[b])
            tok = m if rng.random() < 0.8 else f"{m[:2]} {m[2:]}"
            parts = f" {rng.choice(['CKD', 'SKD', 'PARTIAL'])}" if path == "parts" else ""
            desc = f"{b} {tok} {fill}{parts}"
            model_info = (b, m, cap, typ)
        elif path in ("regex1", "regex2"):
            p, category, sp = rng.choice(cat.series[b])
            toks = [f"{p}{rng.randint(100, 999)}"]
            if rng.random() < 0.25:   # two hits of different length
                toks.append(f"{p}{rng.randint(1000, 9999)}")
            best = max(toks, key=len)
            model_info = (b, best, regex_capacity(best, p, sp), category, len(toks) > 1)
            head = f"{b} " if path == "regex1" else ""
            desc = f"{head}{' '.join(toks)} {fill}"
        elif path == "brand_only":
            desc = f"{b} {fill}"
        elif path == "inferred":
            desc = None   # resolved below, once the batch's known rows exist
        elif path == "capacity":
            desc = f"{fill} {round(rng.uniform(2.0, 80.0), 1)} TONS"
        elif path == "none":
            desc = fill
        elif path == "drop_f1":
            amount = round(rng.uniform(1000.0, 9000.0), 2)
            desc = f"{b} {fill}"
        else:   # drop_f2
            desc = f"{fill} {rng.choice(['LOADER', 'FORKLIFT', 'ROLLER', 'GRADER', 'BACKHOE'])}"
        qty = "1" if rng.random() < 0.85 else "2"
        if qty == "2" and path != "drop_f1":
            amount *= 2
        day = rng.randint(1, 28)
        rows.append(dict(
            _BASE,
            shipment_id=sid,
            month=month,
            product_description=desc,
            supplier=supplier,
            qty=qty,
            amount_in_usd=amount,
            price_in_usd=amount / float(qty),
            date=f"{y:04d}/{mo:02d}/{day:02d}",
            weight_in_kg=str(rng.randint(900, 90000)),
        ))
        plan[sid] = path
        info[sid] = (b, model_info)

    # band-join candidates: kept rows that leave the match stages with
    # brand, type, model and capacity all known
    known: dict[tuple, set] = {}
    targets: dict[str, set] = {}   # catalog EXCAVATOR models planted in the batch
    for sid, path in plan.items():
        b, mi = info[sid]
        if path in ("full", "parts"):
            known.setdefault((b, mi[3]), set()).add((mi[1], mi[2]))
            if mi[3] == "EXCAVATOR":
                targets.setdefault(b, set()).add((mi[1], mi[2]))
        elif path in ("regex1", "regex2") and mi[2] is not None:
            known.setdefault((b, mi[3]), set()).add((mi[1], mi[2]))

    expected: dict[int, tuple] = {}
    for row in rows:
        sid = row["shipment_id"]
        path = plan[sid]
        b, mi = info[sid]
        if path == "inferred":
            cands = known.get((b, "EXCAVATOR"), set())
            if not targets.get(b):
                # no EXCAVATOR model of this brand in the batch yet: the
                # row stays brand-only (still planted, still checked)
                row["product_description"] = _noise(rng, f"{b} {rng.choice(FILLER)}")
                plan[sid] = "brand_only"
                expected[sid] = (b, None, R_BRAND_ONLY)
                continue
            target = rng.choice(sorted(targets[b]))
            c = round(target[1] * rng.uniform(0.98, 1.02), 1)
            row["product_description"] = _noise(
                rng, f"{b} CRAWLER EXCAVATOR {c} TONS {rng.choice(FILLER)}"
            )
            inside = [
                (abs(kc - c), km) for km, kc in cands if c * (1 - 0.05) <= kc <= c * (1 + 0.05)
            ]
            near_edge = any(abs(abs(kc / c - 1) - 0.05) < 1e-3 for _, kc in cands)
            if inside and not near_edge:
                expected[sid] = (b, min(inside)[1], R_INFERRED)
            continue
        row["product_description"] = _noise(rng, row["product_description"])
        if path == "full":
            expected[sid] = (b, mi[1], R_FULL)
        elif path == "parts":
            expected[sid] = (b, mi[1], R_PARTS)
        elif path == "regex1":
            expected[sid] = (b, mi[1], R_RX_MULTI if mi[4] else R_RX_UNIQUE)
        elif path == "regex2":
            expected[sid] = (b, mi[1], R_RX_NB_MULTI if mi[4] else R_RX_NB_UNIQUE)
        elif path == "brand_only":
            expected[sid] = (b, None, R_BRAND_ONLY)
        elif path == "capacity":
            expected[sid] = (None, None, R_CAPACITY)
        elif path == "none":
            expected[sid] = (None, None, R_NONE)
    _check_planted(rows, plan, cat)
    return Batch(rows, expected, plan)


_DIGIT_TOKEN = re.compile(r"[A-Z]+\d")


def _check_planted(rows: list[dict], plan: dict[int, str], cat: Catalog) -> None:
    """Refuse a batch whose text could reach a path other than the
    planted one (guards the generator itself, not the program)."""
    for r in rows:
        path = plan[r["shipment_id"]]
        d = r["product_description"].upper()
        n_brands = sum(1 for b in cat.brands if b in d or b in r["supplier"])
        if path in ("full", "parts", "regex1", "brand_only", "inferred", "drop_f1"):
            want = 1
        else:
            want = 0
        if n_brands != want:
            raise AssertionError(f"row {r['shipment_id']} ({path}) names {n_brands} brands")
        if path in ("brand_only", "none", "capacity") and _DIGIT_TOKEN.search(d):
            raise AssertionError(f"row {r['shipment_id']} ({path}) carries a model token")


def make_history(
    rng: random.Random, cat: Catalog, n_rows: int, months: list[int]
) -> list[dict]:
    """Already-cleaned (export-rendered) rows spread over ``months``;
    shipment ids are 1..n_rows."""
    return [
        _clean_row(rng, cat, sid, months[(sid - 1) * len(months) // n_rows])
        for sid in range(1, n_rows + 1)
    ]


def _clean_row(rng: random.Random, cat: Catalog, sid: int, month: int) -> dict:
    y, mo = divmod(month, 100)
    if rng.random() < 0.06:
        brand, model, typ, cap = "UNKNOWN", "UNKNOWN", "UNKNOWN", None
    else:
        # a skewed brand mix, like real market shares
        brand = cat.brands[min(int(rng.expovariate(1 / 8.0)), len(cat.brands) - 1)]
        model, cap, typ = rng.choice(cat.models[brand])
    return dict(
        shipment_id=sid,
        month=month,
        date=dt.date(y, mo, rng.randint(1, 28)),
        brand=brand,
        model=model,
        type=typ,
        capacity=cap,
        capacity_interval=rng.choice(INTERVALS),
        new_used=rng.choice(NEW_USED),
        qty_n=float(rng.choice([1, 1, 1, 2])),
        amount_in_usd=round(rng.uniform(15000.0, 400000.0), 2),
    )


def make_upsert_batch(
    rng: random.Random,
    cat: Catalog,
    stored: dict[int, int],
    next_id: int,
    n_rows: int,
    month: int,
    resend_share: float = 0.1,
) -> list[dict]:
    """Next month's cleaned batch: ``resend_share`` of its rows re-send
    keys already stored (corrections keep their original month), the rest
    are new ids from ``next_id``.  ``stored`` maps id -> month."""
    n_resend = int(n_rows * resend_share)
    resend = rng.sample(sorted(stored), n_resend)
    out = [_clean_row(rng, cat, sid, stored[sid]) for sid in resend]
    out += [_clean_row(rng, cat, next_id + k, month) for k in range(n_rows - n_resend)]
    return out


def months_from(start: int, n: int) -> list[int]:
    y, m = divmod(start, 100)
    out = []
    for _ in range(n):
        out.append(y * 100 + m)
        m += 1
        if m > 12:
            y, m = y + 1, 1
    return out
