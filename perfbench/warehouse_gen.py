"""Seeded generator of an inspectors star-schema warehouse, written as parquet
in the layout ``write_warehouse`` produces (fact partitioned by year).

The analytics read side gets its warehouse from here rather than from an
engine run, so its inputs come from the seed alone and its set-up stays
cheap.  Inspectors have careers: each serves a run of consecutive years,
sometimes moving gubernia or changing rank, with dated tenure phrases of the
form the ETL keeps raw ("с 10 дек", "до 5 июня"), some of them invalid.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

YEARS = tuple(range(1901, 1914))
_OKRUGS = {
    "московский фабричный округ": ("московская", "тульская", "рязанская", "калужская"),
    "петербургский фабричный округ": ("петербургская", "новгородская", "псковская"),
    "владимирский фабричный округ": ("владимирская", "костромская", "ярославская"),
    "киевский фабричный округ": ("киевская", "волынская", "подольская", "черниговская"),
}
_ROLES = ("Инспектор участка", "Окружный инспектор", "Старший инспектор", "Кандидат")
_MONTHS = ("янв", "фев", "мар", "апр", "мая", "июня", "июля", "авг", "сент", "окт", "нояб", "дек")
_EDUCATIONS = (
    ("канд. унив.", "Кандидатъ университета"),
    ("дейст. студ.", "Дѣйствительный студентъ"),
    ("канд. естеств. наук", "Кандидатъ естественныхъ наукъ"),
    ("инст.", "Институтъ (сокр.)"),
)


def _raw_date(rng: random.Random, prefix: str) -> str | None:
    if rng.random() < 0.75:
        return None
    day = rng.randint(1, 31)  # day 29-31 is invalid in some months
    return f"{prefix} {day} {rng.choice(_MONTHS)}"


def tables(seed: int, inspectors: int) -> dict[str, list[dict]]:
    rng = random.Random(seed)
    gubs = [(o, g) for o, gs in _OKRUGS.items() for g in gs]
    cities = [(i + 1, f"город {i}", g, o) for i, (o, g) in enumerate(gubs * 3)]
    by_gub: dict[str, list[int]] = {}
    for lid, _, g, _ in cities:
        by_gub.setdefault(g, []).append(lid)

    facts: list[dict] = []
    for iid in range(1, inspectors + 1):
        start = rng.choice(YEARS)
        span = rng.randint(1, len(YEARS))
        okrug, gub = rng.choice(gubs)
        rank = rng.randint(1, 8)
        edu = rng.choice((None, None, 1, 2, 3, 4))
        role = rng.choice(_ROLES)
        for year in YEARS[YEARS.index(start) : YEARS.index(start) + span]:
            if rng.random() < 0.15:
                okrug, gub = rng.choice(gubs)
            if rng.random() < 0.2:
                rank = rng.randint(1, 8)
            for _ in range(rng.choice((1, 1, 1, 2))):
                workers = rng.randint(10, 30000) if rng.random() < 0.9 else None
                facts.append(
                    {
                        "inspector_id": iid,
                        "year": year,
                        "okrug_name": okrug,
                        "gubernia_name": gub,
                        "position_role": role,
                        "inspector_location_id": rng.choice(by_gub[gub]),
                        "rank_id": rank if rng.random() < 0.9 else None,
                        "education_id": edu,
                        "start_date_raw": _raw_date(rng, "с"),
                        "end_date_raw": _raw_date(rng, "до"),
                        "is_vacancy": False,
                        "establishments_count": rng.randint(1, 300),
                        "worker_count": workers,
                        "boiler_count": rng.randint(0, 150),
                    }
                )
    for year in YEARS:  # vacancies: no inspector
        for _ in range(rng.randint(2, 8)):
            okrug, gub = rng.choice(gubs)
            facts.append(
                {
                    "inspector_id": None, "year": year, "okrug_name": okrug,
                    "gubernia_name": gub, "position_role": "Инспектор участка",
                    "inspector_location_id": rng.choice(by_gub[gub]), "rank_id": None,
                    "education_id": None, "start_date_raw": _raw_date(rng, "с"),
                    "end_date_raw": None, "is_vacancy": True, "establishments_count": None,
                    "worker_count": None, "boiler_count": None,
                }
            )
    facts.sort(key=lambda f: (f["year"], f["okrug_name"], f["gubernia_name"]))
    for i, f in enumerate(facts, 1):
        f["assignment_id"] = i
    return {
        "assignments": facts,
        "educations": [
            {"education_id": i, "abbreviation": a, "full_name_ru": n}
            for i, (a, n) in enumerate(_EDUCATIONS, 1)
        ],
        "locations": [
            {"location_id": lid, "city_name": c, "gubernia_name": g, "okrug_name": o,
             "location_type": "Город"}
            for lid, c, g, o in cities
        ],
    }


_FACT_SCHEMA = pa.schema(
    [
        ("assignment_id", pa.int64()), ("inspector_id", pa.int32()),
        ("okrug_name", pa.string()), ("gubernia_name", pa.string()),
        ("position_role", pa.string()), ("inspector_location_id", pa.int32()),
        ("rank_id", pa.int32()), ("education_id", pa.int32()),
        ("start_date_raw", pa.string()), ("end_date_raw", pa.string()),
        ("is_vacancy", pa.bool_()), ("establishments_count", pa.int32()),
        ("worker_count", pa.int32()), ("boiler_count", pa.int32()),
    ]
)


def generate(out_dir: str, seed: int, inspectors: int) -> dict:
    """Write the warehouse; return row counts."""
    t = tables(seed, inspectors)
    for name in ("educations", "locations"):
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
        pq.write_table(pa.Table.from_pylist(t[name]), os.path.join(out_dir, name, "part-0.parquet"))
    for year in YEARS:
        rows = [f for f in t["assignments"] if f["year"] == year]
        d = os.path.join(out_dir, "assignments", f"year={year}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(rows, schema=_FACT_SCHEMA), os.path.join(d, "part-0.parquet")
        )
    return {k: len(v) for k, v in t.items()}
