"""Seeded generator of yearly factory-inspector roster HTML, with its own oracle.

Pure stdlib.  ``generate(out_dir, seed, archives, rows)`` writes one file per
(archive, year) for 1901-1913 and returns a manifest of what the warehouse
built from them must contain.  The manifest comes from the generator's own
row model, never from running the engine: each model row records the logical
content the roster means (after ditto marks and rowspans are resolved), and
``_expected`` applies the reference loader's documented rules to that model.

Layouts follow the three generations of the reference corpus:

* G1 (1901): 4 columns, ASCII ``"`` ditto in the location cell, a one-row
  ``<thead>``, ``district-header``/``gubernia-header`` rows.
* G2 (1902-1909): 6 columns with three statistics columns, a two-row
  ``<thead>`` (the loader skips as many TBODY rows as the thead has, so the
  first data row after the okrug header is lost), ``»`` ditto, footnotes.
* G3 (1910-1913): 6 columns, ``okrug-header``/``oblast-header`` rows,
  ``senior-inspector``/``candidate``/``ditto``/``empty`` classes; 1913 adds
  dot-leader spans inside description cells.

Every file name is ``a<archive>_fabric<year>.html``: unique per file (the
loader's windows partition by base name) and accepted by its
``fabric(\\d{4})\\.html`` search.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field

YEARS = tuple(range(1901, 1914))

# Initials avoid с/а/р/ч/к/д/и/н/т so no two of them spell a rank key
# ("к. с.", "н. с.", ...) or the acting marker "и. д.".
_INITIALS = "БВГЕЖЗЛМОПФ"
_ROOTS = (
    "Бѣл", "Вол", "Гор", "Жук", "Зим", "Лев", "Мор", "Пол", "Фил", "Шуб",
    "Ляп", "Ром", "Бор", "Глѣб", "Дуб", "Ерш", "Кузьм", "Лап", "Мех", "Нов",
    "Ореш", "Пуш", "Руд", "Сив", "Тих", "Уш", "Хом", "Цвѣт", "Чиж", "Щег",
)
_SUFFIXES = ("овъ", "инъ", "евъ", "скій", "ицкій", "енко", "овичъ")
# Ranks, professions and educations only feed the dimension tables, which
# the manifest does not count; they must only never be mistaken for a name.
_RANKS = ("Н. С.", "К. А.", "Тит. С.", "Колл. Сов.", "Г. С.", "Ст. Сов.")
_PROFS = ("Инж.-тех.", "Техн.", "Инж.-мех.", "Горн. инж.", "Врачъ", "")
_EDUS = ("Канд. унив.", "Дѣйст. студ.", "Канд. естеств. наукъ", "", "", "")
_MONTHS = ("янв.", "фев.", "мая", "іюня", "іюля", "сент.", "окт.", "дек.")
_CITIES = (
    "Москва", "С.-Петербургъ", "Тула", "Рязань", "Владиміръ", "Шуя",
    "Кострома", "Ярославль", "Нижній-Новгородъ", "Иваново-Вознесенскъ",
    "Тверь", "Калуга", "Вышній-Волочокъ", "Серпуховъ", "Орѣховъ", "Клинъ",
    "Богородскъ", "Коломна", "Ростовъ", "Кинешма",
)
_OKRUGS = ("Московскій", "Петербургскій", "Владимірскій", "Кіевскій", "Варшавскій", "Харьковскій")
_GUBERNIAS = (
    "Московская", "Тульская", "Рязанская", "Калужская", "Тверская",
    "Ярославская", "Костромская", "Владимірская", "Смоленская", "Орловская",
)
_SENIOR = "Старшій фабричный инспекторъ."
_NO_DATA = "(Нет данных)"
_FOOTNOTE = "1) Надзоръ за паровыми котлами въ этомъ участкѣ возложенъ на окружного инспектора."


def generation(year: int) -> str:
    return "G1" if year == 1901 else ("G2" if year <= 1909 else "G3")


@dataclass(frozen=True)
class Person:
    surname: str  # pre-reform spelling, as rendered
    initials: tuple[str, str]
    rank: str
    prof: str
    edu: str

    def render(self) -> str:
        head = " ".join(x for x in (self.prof, self.edu, self.rank) if x)
        return f"{head} {self.initials[0]}. {self.initials[1]}. {self.surname}"

    @property
    def key(self) -> str:
        """Canonical inspector key: standardized surname, sorted initials."""
        s = self.surname.lower().replace("ѣ", "е").replace("і", "и")
        if s.endswith("ъ") or s.endswith("ь"):
            s = s[:-1]
        return s + " " + "".join(i.lower() + "." for i in sorted(self.initials))


@dataclass
class Row:
    """One ``<tr>`` of a file's tbody.

    ``kind`` is ``okrug``, ``gub``, ``data`` or ``foot``.  For data rows the
    logical fields say what the row means; the ``*_rowspan``, ``*_omitted``
    and ``own_pers`` fields say how it is rendered."""

    kind: str
    text: str = ""
    desc: str = ""
    est: str = ""
    workers: str = ""
    boilers: str = ""
    loc: str = ""  # logical location cell text ("»"/'"' ditto kept as-is)
    pers: str = ""  # logical personnel cell inner HTML
    # parse outcome of ``pers``: (inspector key | None, is_vacancy) per
    # assignment; None for a ditto cell, which copies an earlier assignment
    assignments: list[tuple[str | None, bool]] | None = field(default_factory=list)
    loc_rowspan: int = 0  # >1: this row's location cell carries rowspan
    pers_rowspan: int = 0
    loc_omitted: bool = False  # covered by an earlier location rowspan
    pers_omitted: bool = False
    own_pers: str | None = None  # bleed row: rendered cell the reader ignores
    css: str = ""


def _fmt_count(rng: random.Random, lo: int, hi: int) -> str:
    """A statistics cell: an em dash, or a count with a thousands separator."""
    if rng.random() < 0.08:
        return "—"
    n = rng.randint(lo, hi)
    if n >= 1000:
        sep = "." if rng.random() < 0.8 else ","
        return f"{n // 1000}{sep}{n % 1000:03d}"
    return str(n)


def _person_pool(rng: random.Random, n: int) -> list[Person]:
    return [
        Person(
            surname=rng.choice(_ROOTS) + rng.choice(_SUFFIXES),
            initials=(rng.choice(_INITIALS), rng.choice(_INITIALS)),
            rank=rng.choice(_RANKS),
            prof=rng.choice(_PROFS),
            edu=rng.choice(_EDUS),
        )
        for _ in range(n)
    ]


def _date(rng: random.Random) -> str:
    return f"{rng.randint(1, 28)} {rng.choice(_MONTHS)}"


def _personnel(rng: random.Random, pool: list[Person]) -> tuple[str, list[tuple[str | None, bool]]]:
    """A personnel cell from one of the row types of the reference corpus,
    with the assignments the reference parser makes of it."""
    p = rng.choice(pool)
    r = rng.random()
    if r < 0.55:
        return p.render() + ".", [(p.key, False)]
    if r < 0.65:  # dated vacancy, then the appointee
        return (
            f"До {_date(rng)} вакансія.<br>съ {_date(rng)} {p.render()}.",
            [(None, True), (p.key, False)],
        )
    if r < 0.72:  # death sign, then a vacancy
        return f"{p.render()} (†).<br>съ {_date(rng)} вакансія.", [(p.key, False), (None, True)]
    if r < 0.79:  # vacancy filled by a candidate: the candidate is a note
        c = rng.choice(pool)
        return (
            f"{p.render()}.<br>съ {_date(rng)} вакансія, замѣщалъ кандидатъ "
            f"{c.initials[0]}. {c.initials[1]}. {c.surname}.",
            [(p.key, False), (None, True)],
        )
    if r < 0.85:  # three periods split by <br>
        q = rng.choice(pool)
        return (
            f"До {_date(rng)} {p.render()};<br>съ {_date(rng)} по {_date(rng)} вакансія; "
            f"<br>съ {_date(rng)} {q.render()}.",
            [(p.key, False), (None, True), (q.key, False)],
        )
    if r < 0.92:  # served by the senior inspector: not a named inspector
        return _SENIOR, [(None, False)]
    return _NO_DATA, []


def _data_row(rng: random.Random, year: int, pool: list[Person], uch: int) -> Row:
    pers, assignments = _personnel(rng, pool)
    est = _fmt_count(rng, 1, 300)
    workers = _fmt_count(rng, 5, 25000)
    boilers = _fmt_count(rng, 0, 150)
    if year >= 1910 and rng.random() < 0.1:
        boilers = ""  # class="empty" cell
    if rng.random() < 0.12:
        desc = "Вся губернія составляетъ одинъ участокъ."
    else:
        desc = f"{uch}-й участокъ."
    return Row(
        kind="data",
        desc=desc,
        est=est,
        workers=workers,
        boilers=boilers,
        loc=rng.choice(_CITIES),
        pers=pers,
        assignments=assignments,
    )


def _file_rows(rng: random.Random, year: int, pool: list[Person], n_rows: int) -> list[Row]:
    """The tbody model of one file: ~n_rows rows in okrug/gubernia sections."""
    gen = generation(year)
    ditto_loc = '"' if gen == "G1" else "»"
    rows: list[Row] = []
    okrugs = rng.sample(_OKRUGS, 2)
    per_section = max(4, n_rows // 6)
    bleed_done = False
    first_section = True
    for oi, okrug in enumerate(okrugs):
        rows.append(Row(kind="okrug", text=f"{okrug} фабричный округъ"))
        if oi == 0 and gen == "G2":
            # lost to the two-row-thead offset quirk: the loader never sees it
            rows.append(_data_row(rng, year, pool, 1))
        for gub in rng.sample(_GUBERNIAS, 3):
            if gen == "G3" and rng.random() < 0.3:
                rows.append(Row(kind="gub", text=f"Область Войска {gub[:-2]}аго", css="oblast-header"))
            else:
                rows.append(Row(kind="gub", text=f"{gub} губернія"))
            section: list[Row] = []
            senior = rng.choice(pool)
            section.append(
                Row(
                    kind="data",
                    desc=_SENIOR,
                    est="—", workers="—", boilers="—",
                    loc=rng.choice(_CITIES),
                    pers=senior.render() + ".",
                    assignments=[(senior.key, False)],
                    css="senior-inspector" if gen == "G3" else "",
                )
            )
            for uch in range(1, per_section):
                r = _data_row(rng, year, pool, uch)
                x = rng.random()
                if x < 0.12:  # personnel ditto chain
                    r.pers, r.assignments = "»", None
                elif x < 0.18:
                    r.loc = ditto_loc
                elif x < 0.22 and gen == "G3":
                    r.css = "candidate"
                    r.desc = "Кандидатъ на должность фабричнаго инспектора."
                if gen != "G1" and rng.random() < 0.1 and r.desc == f"{uch}-й участокъ.":
                    r.desc = f"{uch}-й »"  # uchastok ditto
                section.append(r)
            if gen != "G1" and first_section and rng.random() < 0.3:
                # a ditto location before any city: the row is rejected
                section[0].loc = ditto_loc
            rows.extend(section)
            first_section = False
        # per okrug, one personnel and one location rowspan over the next row
        _add_rowspan(rng, rows, "pers")
        _add_rowspan(rng, rows, "loc")
        if not bleed_done:
            bleed_done = _add_bleed(rows)
    if gen != "G1" and rng.random() < 0.5:
        rows.append(Row(kind="foot", text=_FOOTNOTE, css="footnote"))
    return rows


def _add_rowspan(rng: random.Random, rows: list[Row], col: str) -> None:
    """Make a data row's cell span the following data row (rowspan=2)."""
    cands = [
        i for i in range(len(rows) - 1)
        if rows[i].kind == "data" and rows[i + 1].kind == "data"
        and rows[i].assignments is not None and rows[i + 1].assignments is not None
        and not (rows[i].pers_rowspan or rows[i].loc_rowspan or rows[i].pers_omitted
                 or rows[i].loc_omitted or rows[i].own_pers is not None)
        and not (rows[i + 1].pers_rowspan or rows[i + 1].loc_rowspan or rows[i + 1].own_pers is not None)
        and rows[i].loc not in ('"', "»")
    ]
    # never the first data rows of a file: the thead offset may skip them
    cands = [i for i in cands if i >= 4]
    if not cands:
        return
    i = rng.choice(cands)
    a, b = rows[i], rows[i + 1]
    if col == "pers":
        a.pers_rowspan, b.pers_omitted = 2, True
        b.pers, b.assignments = a.pers, list(a.assignments)
    else:
        a.loc_rowspan, b.loc_omitted = 2, True
        b.loc = a.loc


def _add_bleed(rows: list[Row]) -> bool:
    """A personnel rowspan=3 whose span covers a gubernia header row: the
    loader does not count header rows against the span, so the data row
    after the header takes the spanned cell instead of its own."""
    for i in range(4, len(rows) - 3):
        a, b, h, c = rows[i : i + 4]
        if (
            a.kind == b.kind == c.kind == "data" and h.kind == "gub"
            and all(r.assignments is not None for r in (a, b, c))
            and not any(r.pers_rowspan or r.loc_rowspan or r.pers_omitted or r.loc_omitted
                        or r.own_pers is not None for r in (a, b, c))
            and a.assignments
        ):
            a.pers_rowspan = 3
            b.pers_omitted = True
            b.pers, b.assignments = a.pers, list(a.assignments)
            c.own_pers = c.pers
            c.pers, c.assignments = a.pers, list(a.assignments)
            return True
    return False


# ---------------------------------------------------------------------------
# Rendering
# ---------------------------------------------------------------------------

_HEAD = {
    "G1": (
        '<thead><tr><th>Округъ и губернія</th><th>Участокъ</th>'
        "<th>Мѣстопребываніе</th><th>Личный составъ</th></tr></thead>"
    ),
    "G2": (
        '<thead><tr><th rowspan="2">Участки</th><th colspan="3">Число</th>'
        '<th rowspan="2">Мѣстопребываніе</th><th rowspan="2">Личный составъ</th></tr>'
        "<tr><th>заведеній</th><th>рабочихъ</th><th>паровыхъ котловъ</th></tr></thead>"
    ),
    "G3": (
        "<thead><tr><th>Участки</th><th>Заведеній</th><th>Рабочихъ</th><th>Котловъ</th>"
        "<th>Мѣстопребываніе</th><th>Личный составъ</th></tr></thead>"
    ),
}


def _td(text: str, rowspan: int = 0, css: str = "") -> str:
    attrs = (f' rowspan="{rowspan}"' if rowspan > 1 else "") + (f' class="{css}"' if css else "")
    return f"<td{attrs}>{text}</td>"


def _render_row(r: Row, year: int) -> str:
    gen = generation(year)
    width = 4 if gen == "G1" else 6
    if r.kind == "okrug":
        css = "okrug-header" if gen == "G3" else "district-header"
        return f'<tr class="{css}"><td colspan="{width}">{r.text}</td></tr>'
    if r.kind == "gub":
        css = r.css or "gubernia-header"
        return f'<tr class="{css}"><td colspan="{width}">{r.text}</td></tr>'
    if r.kind == "foot":
        return f'<tr class="footnote"><td colspan="{width}">{r.text}</td></tr>'
    desc = r.desc
    if year == 1913:
        desc += '<span class="dotted-line">.........</span>'
    cells = [_td("")] if gen == "G1" else []
    cells.append(_td(desc))
    if gen != "G1":
        cells += [_td(r.est), _td(r.workers), _td(r.boilers, css="empty" if not r.boilers else "")]
    if not r.loc_omitted:
        cells.append(_td(r.loc, r.loc_rowspan, "ditto" if gen == "G3" and r.loc == "»" else ""))
    if r.own_pers is not None:
        cells.append(_td(r.own_pers))
    elif not r.pers_omitted:
        cells.append(_td(r.pers, r.pers_rowspan, "ditto" if gen == "G3" and r.pers == "»" else ""))
    css = f' class="{r.css}"' if r.css else ""
    return f"<tr{css}>" + "".join(cells) + "</tr>"


def render_file(rows: list[Row], year: int) -> str:
    body = "\n".join(_render_row(r, year) for r in rows)
    return (
        '<!DOCTYPE html>\n<html lang="ru"><head><meta charset="utf-8">'
        f"<title>Списокъ фабричныхъ инспекторовъ {year}</title></head><body>\n"
        f"<h1>Личный составъ фабричной инспекціи, {year} г.</h1>\n"
        f"<table>{_HEAD[generation(year)]}\n<tbody>\n{body}\n</tbody></table>\n</body></html>\n"
    )


# ---------------------------------------------------------------------------
# Oracle: the reference loader's rules applied to the row model
# ---------------------------------------------------------------------------


def _clean(s: str) -> int | None:
    s = s.strip()
    if s in ("", "—", "-"):
        return None
    return int(s.replace(".", "").replace(",", ""))


def _expected(files: list[tuple[str, int, list[Row]]]) -> dict:
    """The manifest, from the row model and the reference loader's rules:

    * it skips as many tbody rows as the file's thead has, then any leading
      header rows;
    * okrug and gubernia header rows start a new ditto epoch;
    * footnote rows ("1) ...") are dropped as notes;
    * the location fills forward from the last cell that is not "»" (1901's
      ASCII '"' is no ditto mark to it, so it becomes a city named '"'); a
      data row with no city yet is rejected;
    * a "»" personnel cell copies the last named, non-vacant assignment of
      its epoch, or yields nothing;
    * every assignment of a row is a fact row carrying the row's workers.
    """
    data_rows = fact_rows = vacancies = rejects = tr_rows = reader_rows = 0
    keys: set[str] = set()
    workers: dict[int, int | None] = {}
    facts_by_year: dict[int, int] = {}
    for _, year, rows in files:
        thead = 2 if generation(year) == "G2" else 1
        tr_rows += len(rows) + thead
        # the loader skips as many tbody rows as the thead has, then any
        # leading header rows
        start = thead
        while start < len(rows) and rows[start].kind in ("okrug", "gub"):
            start += 1
        reader_rows += len(rows) - start
        epoch = 0
        city: str | None = None
        last_qual: dict[int, str] = {}
        for r in rows[start:]:
            if r.kind in ("okrug", "gub"):
                epoch += 1
                continue
            if r.kind == "foot":  # note row: dropped before anything counts it
                continue
            data_rows += 1
            if r.loc and r.loc != "»":  # '"' is a literal city to the loader
                city = r.loc
            if city is None:
                rejects += 1
                continue
            if r.assignments is None:  # personnel ditto
                got = [(last_qual[epoch], False)] if epoch in last_qual else []
            else:
                got = r.assignments
                named = [k for k, vac in got if k is not None and not vac]
                if named:
                    last_qual[epoch] = named[-1]
            w = _clean(r.workers) if generation(year) != "G1" else None
            for k, vac in got:
                fact_rows += 1
                facts_by_year[year] = facts_by_year.get(year, 0) + 1
                vacancies += vac
                if k is not None:
                    keys.add(k)
                if w is not None:
                    workers[year] = (workers.get(year) or 0) + w
                else:
                    workers.setdefault(year, None)
    return {
        "files": len(files),
        "tr_rows": tr_rows,
        "reader_rows": reader_rows,
        "data_rows": data_rows,
        "fact_rows": fact_rows,
        "inspectors": len(keys),
        "vacancies": vacancies,
        "rejects": rejects,
        "fact_rows_by_year": {str(y): n for y, n in sorted(facts_by_year.items())},
        "workers_by_year": {str(y): n for y, n in sorted(workers.items())},
    }


def build(seed: int, archives: int, rows: int) -> tuple[dict[str, str], dict]:
    """In-memory corpus: ({file name: html}, manifest)."""
    rng = random.Random(seed)
    files: list[tuple[str, int, list[Row]]] = []
    for a in range(archives):
        pool = _person_pool(rng, max(8, rows // 5))
        for year in YEARS:
            files.append((f"a{a:02d}_fabric{year}.html", year, _file_rows(rng, year, pool, rows)))
    html = {name: render_file(model, year) for name, year, model in files}
    manifest = _expected(files)
    manifest["seed"], manifest["archives"], manifest["rows_per_file"] = seed, archives, rows
    manifest["bytes"] = sum(len(h.encode()) for h in html.values())
    manifest["sha256"] = hashlib.sha256(
        "".join(n + html[n] for n in sorted(html)).encode()
    ).hexdigest()
    return html, manifest


def generate(out_dir: str, seed: int, archives: int, rows: int) -> dict:
    """Write the corpus and ``manifest.json`` into ``out_dir``; return the
    manifest."""
    html, manifest = build(seed, archives, rows)
    os.makedirs(out_dir, exist_ok=True)
    for name, text in html.items():
        with open(os.path.join(out_dir, name), "w", encoding="utf-8") as f:
            f.write(text)
    with open(os.path.join(out_dir, "manifest.json"), "w", encoding="utf-8") as f:
        json.dump(manifest, f, ensure_ascii=False, indent=1, sort_keys=True)
    return manifest
