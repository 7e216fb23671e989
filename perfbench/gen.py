"""Seeded input generators. The same seed gives byte-identical files.

Every generator writes into a directory it is given and returns a small
dict of what it wrote "by construction" (row counts, expected results), so
the checks never read the generator's expectations back out of the program
under test.
"""
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(table, path):
    # Fixed writer settings: no dictionary-page or statistics drift between
    # runs, so equal seeds give equal bytes.
    pq.write_table(table, path, compression="snappy", write_statistics=True,
                   use_dictionary=True)


def _skewed(rng, n_keys, size, alpha=0.8):
    """Keys 0..n_keys-1 drawn with power-law weights over a seeded key
    permutation: a few heavy keys, a long tail (skewed graph degrees). The
    exponent is a chosen value, not a measured one."""
    w = 1.0 / np.arange(1, n_keys + 1) ** alpha
    perm = rng.permutation(n_keys)
    return perm[rng.choice(n_keys, size=size, p=w / w.sum())]


def _cents(x):
    # Money columns carry at most two decimal digits (the engine's dec2
    # contract, shared with the DuckDB oracle).
    return np.round(x, 2)


# ---------------------------------------------------------------- star schema

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
PNOUN = ["bolt", "gear", "anvil", "widget", "rod", "ring", "plate", "gizmo"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
WORDS = ("a the data table row column key value part order customer line "
         "query scan sort join merge hash batch stream window group agg "
         "filter spark fast slow big small vector").split()
LANGS = ["en", "en", "en", "en", "de", "fr", "es"]


def star_tables(out_dir, seed, sf, skew):
    """TPC-H-like star schema plus events and documents at scale `sf`
    (sf=0.01 is 60k lineitems).

    Foreign keys are drawn as in the repository's sf0.1 test data, where
    each is uniform over its dimension: orders per customer, lines per
    order, lines per supplier and per part are all Poisson-like (measured
    there: coefficients of variation 0.32, 0.48, 0.04 and 0.18, matching
    uniform draws of 150k orders, 600k lines). With `skew`, order customer
    keys and line supplier keys are power-law instead, so the
    customer-supplier trade graph has heavy hubs; that distribution is a
    choice, not fit to any measured data."""
    rng = np.random.default_rng([seed, 1])

    def fk(n_keys, size):
        return _skewed(rng, n_keys, size) if skew else rng.integers(0, n_keys, size)

    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_ev, n_doc = int(1000000 * sf), int(50000 * sf)
    counts = {}

    def put(name, cols):
        t = pa.table(cols)
        _write(t, f"{out_dir}/{name}.parquet")
        counts[name] = t.num_rows

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_supp))})
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PADJ[a]} {PNOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _cents(900.0 + (np.arange(n_part) % 1000) * 0.1)})

    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(fk(n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})

    # Four lines per order on average, each line's order drawn uniformly.
    n_li = 4 * n_ord
    l_ord = np.sort(rng.integers(0, n_ord, n_li))
    first = np.searchsorted(l_ord, l_ord, side="left")
    l_num = np.arange(n_li) - first + 1
    ship = odate[l_ord] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    put("lineitem", {
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(fk(n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng.uniform(900.0, 105000.0, n_li)),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us"))})

    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]")
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_ev // 66), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _cents(rng.uniform(0.01, 490.0, n_ev)),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})

    texts = []
    for i in range(n_doc):
        if i and rng.random() < 0.05:  # exact duplicates for the dedup query
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), int(rng.integers(8, 80)))))
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    return counts


# -------------------------------------------------------------------- vectors

def vectors(out_dir, seed, n, dim, clusters):
    """`n` float32 vectors of width `dim` around `clusters` seeded centres,
    written in the engine's embeddings schema (vec_id, embedding, label)."""
    rng = np.random.default_rng([seed, 2])
    centres = rng.normal(0.0, 1.0, (clusters, dim))
    label = rng.integers(0, clusters, n)
    v = (centres[label] + rng.normal(0.0, 0.35, (n, dim))).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.reshape(-1)), dim)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())}), f"{out_dir}/embeddings.parquet")
    return {"vectors": n, "dim": dim, "vector_bytes": n * dim * 4}


# ------------------------------------------------------------- roster corpus

OKRUGS = ["Московскаго", "Петербургскаго", "Владимірскаго", "Варшавскаго",
          "Кіевскаго", "Приволжскаго", "Харьковскаго"]
GUBS = ["Тульская", "Калужская", "Рязанская", "Тверская", "Ярославская",
        "Костромская", "Смоленская", "Орловская", "Курская", "Пензенская",
        "Симбирская", "Казанская", "Вятская", "Пермская", "Уфимская",
        "Самарская", "Саратовская", "Астраханская", "Воронежская", "Тамбовская",
        "Полтавская", "Черниговская", "Волынская", "Подольская", "Херсонская",
        "Таврическая", "Минская", "Виленская", "Гродненская", "Ковенская"]
CITIES = ["Москва", "Тула", "Калуга", "Рязань", "Тверь", "Ярославль", "Кострома",
          "Смоленск", "Орел", "Курск", "Пенза", "Симбирск", "Казань", "Вятка",
          "Пермь", "Уфа", "Самара", "Саратов", "Астрахань", "Воронеж", "Тамбов",
          "Полтава", "Чернигов", "Житомир", "Каменец", "Херсон", "Симферополь",
          "Минск", "Вильна", "Гродно", "Ковно", "Подольск", "Коломна", "Серпухов",
          "Богородск", "Шуя", "Кинешма", "Ржев", "Торжок", "Елец", "Ливны",
          "Козлов", "Моршанск", "Сызрань", "Вольск", "Камышин", "Царицын",
          "Ростов", "Углич", "Рыбинск", "Муром", "Ковров", "Гусь", "Вязьма",
          "Брянск", "Белев", "Алексин", "Епифань", "Кашира", "Егорьевск"]
STATS = ["5.896", "2,797", "3 144", "79", "—", "412", "1.203", "17", ""]
NAME_RE = re.compile(r"^([а-яё]\. )+[а-яё][а-яё-]*[а-яёй]$")
SENIOR_DESC = "Старшій фабричный инспекторъ"
CANDIDATE_DESC = "Кандидатъ на должность фабричнаго инспектора"
NOISE = ["*) Примѣчаніе: свѣдѣнія за отчетный годъ неполны.",
         "1) Въ томъ числѣ заведенія, подчиненныя надзору съ 1 іюля."]


def personnel_pool(cases_path):
    """The personnel cells the reference itself parsed (input -> expected
    records), restricted to cells that embed verbatim in a table cell and
    whose named records carry plain initials-plus-surname names."""
    seen, normal, special, empty = set(), [], [], []
    with open(cases_path, encoding="utf-8") as f:
        for line in f:
            c = json.loads(line)
            raw = c["input"]
            if raw in seen or raw.strip() in ("»", '"'):
                continue
            seen.add(raw)
            bare = raw.replace("<br/>", "")
            if "<" in bare or ">" in bare or "&" in bare:
                continue
            out = c["output"]
            if not out:
                empty.append(c)
            elif any(r["special_role"] for r in out):
                if len(out) == 1:
                    special.append(c)
            elif all(r["name"] is None or r["is_vacancy"] or NAME_RE.match(r["name"])
                     for r in out):
                normal.append(c)
    return normal, special, empty


def canonical_name(name):
    """Surname plus sorted initials, for names matching NAME_RE."""
    parts = name.split()
    initials = sorted(p[0] for p in parts if len(p) == 2 and p.endswith("."))
    surname = " ".join(p for p in parts if not (len(p) == 2 and p.endswith(".")))
    return f"{surname} {''.join(i + '.' for i in initials)}"


def _real(rec):
    # The record a later ditto mark repeats: named, not a vacancy, not a
    # back-reference.
    return rec["name"] is not None and not rec["is_vacancy"] and not rec["special_role"]


def dimension_keys(golden_dir):
    """The keys of the reference's rank, profession and education tables
    (tools/golden/{ranks,professions,educations}.json, the reference ETL's
    own output on the reference corpus). Every abbreviation a personnel
    case parses to is one of these keys verbatim, so a record's dimension
    key is its abbreviation; a profession that is an education key would
    be filed under educations."""
    keys = {}
    for t in ("ranks", "professions", "educations"):
        with open(f"{golden_dir}/{t}.json", encoding="utf-8") as f:
            keys[t] = {r["Abbreviation"] for r in json.load(f)}
    return keys


def dimension_counts(records, keys):
    """Row counts of the ranks, professions and educations tables the ETL
    builds from `records` (the emitted personnel records)."""
    fields = {"ranks": "rank_abbr", "professions": "prof_abbr", "educations": "edu_abbr"}
    dims = {t: set() for t in fields}
    for r in records:
        for t, f in fields.items():
            v = r[f]
            if v is None:
                continue
            if v not in keys[t]:
                raise ValueError(f"{f} {v!r} is not a key of the reference's {t} table")
            dims["educations" if t == "professions" and v in keys["educations"] else t].add(v)
    return {t: len(v) for t, v in dims.items()}


def roster_corpus(out_dir, seed, golden_dir, n_files, rows_per_file):
    """`n_files` rosters `out_dir`/corpus/fabric1901.html, fabric1902.html, ...: one 1901
    4-column file, the rest in the three 6-column layouts (plain colspan
    headers, class-tagged headers, noisy inline spans). Each file holds
    about `rows_per_file` <tr> rows, including rowspans, location and
    personnel ditto marks, senior back-references, candidate rows and
    footnote noise.

    Returns the counts the ETL must produce: fact rows, the rows of all
    five dimension tables, the data rows that survive, and every personnel
    cell used with its reference-verified parse."""
    rng = np.random.default_rng([seed, 3])
    normal, special, empty = personnel_pool(f"{golden_dir}/personnel_cases.jsonl")
    keys = dimension_keys(golden_dir)
    os.makedirs(f"{out_dir}/corpus", exist_ok=True)
    emitted = []
    used = {}
    fact_rows = data_rows = tr_rows = 0
    inspectors, locations = set(), set()
    unknown = "<unknown>"

    def pick(pool):
        c = pool[int(rng.integers(0, len(pool)))]
        used[c["input"]] = c["output"]
        return c

    for fi in range(n_files):
        year = 1901 + fi
        old = year == 1901
        style = ("plain", "class", "noisy")[fi % 3]
        ncol = 4 if old else 6
        rows = []
        okrug = gub = unknown
        memory = None          # last real record in the current segment
        last_city = None       # last own city over the file's data rows
        pers_span = loc_span = 0
        span_cell = span_city = None

        def header(kind, text):
            if old:
                return f'<tr class="section-header">' + "".join(
                    f"<td>{text if i == 0 else ''}</td>" for i in range(4)) + "</tr>"
            cls = {"plain": "", "class": f' class="{kind}-header"',
                   "noisy": ' class="district-header"' if kind == "okrug"
                   else ' class="oblast-header"'}[style]
            return f'<tr{cls}><td colspan="6">{text}</td></tr>'

        def section(first):
            nonlocal okrug, gub, memory
            o = OKRUGS[int(rng.integers(0, len(OKRUGS)))]
            g = GUBS[int(rng.integers(0, len(GUBS)))]
            rows.append(header("okrug", f"{o} фабричнаго округа"))
            rows.append(header("gubernia", f"{g} область"))
            # The parser drops a file's leading header rows (the thead row
            # count is skipped from the body), so the first section's
            # context is unknown; a 1901 section header sets no context. A
            # plain-text "... область" header is not recognised (the
            # standardizer strips the final soft sign before the match), so
            # it sets no gubernia and parses as an empty data row.
            if not first and not old:
                okrug, gub = o, (g if style != "plain" else unknown)
            memory = None

        section(True)
        n = 2
        while n < rows_per_file:
            # Headers and noise only after the first data row: the parser
            # consumes every header-like row before it.
            quiet = pers_span == 0 and loc_span == 0 and n > 2
            if not old and rng.random() < 0.03 and quiet:
                section(False)
                n += 2
                continue
            if rng.random() < 0.015 and quiet:
                rows.append(f'<tr><td colspan="{ncol}">{NOISE[int(rng.integers(0, 2))]}</td></tr>')
                n += 1
                continue
            u = rng.random()
            if u < 0.06:
                desc = SENIOR_DESC
            elif u < 0.09:
                desc = CANDIDATE_DESC
            else:
                desc = f"{int(rng.integers(1, 12))}-й участокъ"
            if style == "noisy":
                desc += '<span class="dotted-line">....</span><span class="footnote-ref">*</span>'

            # location: own city, ditto mark, empty, or a rowspan
            city_cell = None
            if loc_span > 0:
                own = span_city
            else:
                v = rng.random()
                if last_city is None or v < 0.55:
                    own = CITIES[int(rng.integers(0, len(CITIES)))]
                    city_cell = own
                    if not old and v < 0.05 and pers_span == 0:
                        loc_span, span_city = 3, own
                elif v < 0.85:
                    own = None
                    city_cell = ('<span class="citation-mark">»</span>'
                                 if style == "noisy" else "»")
                else:
                    own = None
                    city_cell = ""
            city = own if own is not None else last_city
            if own is not None:
                last_city = own

            # personnel: a reference-parsed cell, a ditto mark, a rowspan
            pers_cell, records, ditto = None, [], False
            if pers_span > 0:
                records = used[span_cell]
            else:
                v = rng.random()
                if v < 0.05 and desc != SENIOR_DESC:
                    c = pick(special)
                elif v < 0.09:
                    pers_cell, ditto = "»", True
                elif v < 0.11:
                    c = pick(empty)
                else:
                    c = pick(normal)
                if not ditto:
                    pers_cell, records = c["input"], c["output"]
                    if not old and loc_span == 0 and 0.11 <= v < 0.14:
                        pers_span, span_cell = 2, c["input"]
            if ditto:
                records = [memory] if memory is not None else []

            cells = []
            if old:
                gcell = ""
                if rng.random() < 0.04:
                    # the 1901 gubernia-in-cell shape; like the header text
                    # above it sets no context
                    gcell = f"{GUBS[int(rng.integers(0, len(GUBS)))]} область"
                cells = [gcell, desc, city_cell, pers_cell]
            else:
                stats = [STATS[int(rng.integers(0, len(STATS)))] for _ in range(3)]
                cells = [desc] + stats
                cells.append(city_cell if city_cell is not None and
                             (loc_span == 0 or own is not None and city_cell == own) else None)
                cells.append(pers_cell)
            tds = []
            for i, c in enumerate(cells):
                if c is None:
                    continue  # covered by a rowspan: no raw cell
                attr = ""
                if not old and i == 4 and loc_span == 3 and c == span_city:
                    attr = ' rowspan="3" class="ditto"'
                if not old and i == 5 and pers_span == 2 and c == span_cell:
                    attr = ' rowspan="2"'
                tds.append(f"<td{attr}>{c}</td>")
            cls = ' class="candidate"' if desc.startswith("Кандидат") else (
                ' class="senior-inspector"' if style == "class" and desc == SENIOR_DESC else "")
            rows.append(f"<tr{cls}>{''.join(tds)}</tr>")
            n += 1
            if pers_span > 0:
                pers_span -= 1
            if loc_span > 0:
                loc_span -= 1

            if city is not None and records:
                data_rows += 1
                fact_rows += len(records)
                locations.add((city, gub, okrug))
                for r in records:
                    emitted.append(r)
                    if _real(r):
                        inspectors.add(canonical_name(r["name"]))
            if not ditto:
                for r in records:
                    if _real(r):
                        memory = r
        tr_rows += len(rows) + 1
        head = "".join(f"<th>{h}</th>" for h in (
            ["Округъ", "Участокъ", "Мѣстожительство", "Личный составъ"] if old else
            ["Участокъ", "Заведенія", "Рабочіе", "Котлы", "Мѣстожительство", "Личный составъ"]))
        html = ("<html><head><meta charset=\"utf-8\"></head><body>\n"
                f"<h1>Списокъ чиновъ фабричной инспекціи {year}</h1>\n"
                f"<table><thead><tr>{head}</tr></thead><tbody>\n"
                + "\n".join(rows) +
                "\n</tbody></table>\n"
                '<div class="footnote"><span class="footnote-ref">*</span> '
                "Свѣдѣнія по 1 января.</div>\n</body></html>\n")
        with open(f"{out_dir}/corpus/fabric{year}.html", "w", encoding="utf-8") as f:
            f.write(html)
    with open(f"{out_dir}/personnel_cells.jsonl", "w", encoding="utf-8") as f:
        for raw in sorted(used):
            f.write(json.dumps({"input": raw, "output": used[raw]}, ensure_ascii=False) + "\n")
    expected = {"files": n_files, "tr_rows": tr_rows, "data_rows": data_rows,
                "fact_rows": fact_rows, "inspectors": len(inspectors),
                "locations": len(locations), "cells": len(used),
                **dimension_counts(emitted, keys)}
    with open(f"{out_dir}/expected.json", "w") as f:
        json.dump(expected, f, sort_keys=True)
    return expected
