"""Seeded input generators for the benchmark.

Two input families, both written as files the program reads:

* ``tables``: the ten relational fixture tables (FIXTURES.md section B) at
  the sf0.01 shape: one single-row-group parquet file per table, the layout
  the catalog's parquet-page decoders expect. Value domains follow the
  harness fixtures (TPC-H-like keys, 5 event types, a 30-word document
  vocabulary with 5 % "dup" near-duplicates, unit-norm 64-d embeddings).
* ``etl``: the reference pipeline's inputs (FIXTURES.md A1-A4) shaped like
  the reference corpus: concept JSONL with duplicate names and characters
  the sanitizer strips, a hierarchy with duplicate and dangling edges, a
  one-object id map with misses, a 19-part workbook whose sheet 4 holds
  83 % of the rows (null ids, repeated pairs, a scan-stop row, the
  trailing-space labels), and the enrichment service's answer table.

``etl`` also returns the counts the generator knows, so the benchmark can
check the pipeline's outputs without re-running it.
"""
import json
import os
import random
import re
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _write(path, cols):
    pq.write_table(pa.table(cols), path, row_group_size=1 << 30)


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    off = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return (base + off).astype("datetime64[us]")


def tables(out_dir, seed):
    """Writes the ten tables under ``out_dir``; same seed, same bytes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    pick = lambda xs, n: np.array(xs, dtype=object)[rng.integers(0, len(xs), n)]
    n_cust, n_supp, n_part, n_ord, n_li = 1500, 100, 2000, 15000, 60000
    n_ev, n_doc, n_emb = 10000, 500, 500
    p = lambda t: os.path.join(out_dir, t + ".parquet")

    _write(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(p("customer"), {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                              "MACHINERY"], n_cust)})
    _write(p("supplier"), {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "pipe"]
    _write(p("part"), {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(p("orders"), {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                 "5-LOW"], n_ord)})
    _write(p("lineitem"), {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2498)})
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    _write(p("events"), {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_cust // 10, n_ev).astype(np.int64),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, n_doc)]
    # every 20th document repeats a later one with a " dup" suffix
    for i in range(0, n_doc, 20):
        texts[i] = texts[int(rng.integers(i + 1, n_doc))] + " dup"
    _write(p("documents"), {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(["en"] * 8 + ["de", "de", "es", "es", "fr", "fr", "zh", "zh", "zh"][:12],
                     n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(p("embeddings"), {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


# ---- reference-pipeline inputs -------------------------------------------

# sheet index -> (node1 (label, value col, id col), node2 (...), rel): four of
# the reference's sixteen configured sheets (graft.ops.SheetMapping). They
# keep its shapes: sheet 4's columns 12/13 and 83 % share of the rows, sheet
# 2's node2 at columns 8/6, MedicationAPI and NeoplasmType nodes that recur
# across sheets, and a trailing-space label.
SHEETS = {
    2: (("SurgicalExtent", 0, 1), ("OutcomeType", 8, 6), "ASSOCIATED_WITH"),
    4: (("NeoplasmType", 12, 13), ("Gene", 0, 1), "HAS_BIOMARKER"),
    5: (("MedicationAPI", 0, 1), ("NeoplasmType", 2, 3), "TREATS"),
    17: (("MedicationAPI", 0, 1), ("DiseaseType ", 2, 3), "CAUSED_SIDE_EFFECT"),
}
N_PARTS = 19  # worksheet parts sheet1..sheet19, as in the reference workbook
N_COLS = 14
N_CONCEPTS = 24217 // 10  # a tenth of the reference corpus
N_SHEET_ROWS = 3790
SHEET4_SHARE = 0.83
SKIP_TYPE = "Cancer-Numeric-Modifier"
PROPERTY_TYPES = ["Disease", "Demographics", "Treatment", "Finding", "Procedure",
                  "Anatomy", "Gene", "Medication"]


def sanitize(s):
    """graft.ops.Sanitize for the ASCII names generated here."""
    return re.sub(r"[^a-zA-Z0-9\s]", "", s)


def _col(i):
    return chr(ord("A") + i)


def _workbook(path, sheets):
    """Writes an .xlsx: shared strings plus one worksheet part per sheet;
    ``sheets[i]`` is a list of rows, each a list of cell strings or None."""
    strings, index = [], {}

    def sid(s):
        if s not in index:
            index[s] = len(strings)
            strings.append(s)
        return index[s]

    esc = lambda s: s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    parts = []
    for rows in sheets:
        xml = ["<worksheet><sheetData>"]
        for r, cells in enumerate(rows, start=1):
            if cells is None:  # an absent row: the scan stops here
                continue
            xml.append(f'<row r="{r}">')
            for c, v in enumerate(cells):
                if v is not None:
                    xml.append(f'<c r="{_col(c)}{r}" t="s"><v>{sid(v)}</v></c>')
            xml.append("</row>")
        xml.append("</sheetData></worksheet>")
        parts.append("".join(xml))
    sst = "<sst>" + "".join(f"<si><t>{esc(s)}</t></si>" for s in strings) + "</sst>"
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        def put(name, text):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, text.encode("utf-8"))
        put("xl/sharedStrings.xml", sst)
        for i, xml in enumerate(parts):
            put(f"xl/worksheets/sheet{i + 1}.xml", xml)


def etl(out_dir, seed):
    """Writes the reference pipeline's inputs and the enrichment service's
    answers under ``out_dir``. Returns the counts the outputs must show."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    stems = ["Malignant", "Lung", "Neoplasm", "Bladder", "Carcinoma", "Stage",
             "Breast", "Tumor", "Benign", "Gene", "Marker", "Therapy", "Acute",
             "Chronic", "Renal", "Cell", "Type", "Grade"]
    sem_types = ["Neoplasm", "Disease", "Finding", SKIP_TYPE, "Gene", "Procedure"]

    # A1 concepts: unique ids; about 4 % of names repeat an earlier name
    # (some only after sanitizing), optional fields in every presence mask
    ids = rng.sample(range(100000, 400000), N_CONCEPTS)
    names, concepts = [], []
    for i, cid in enumerate(ids):
        if names and rng.random() < 0.04:
            base = rng.choice(names)
            name = base if rng.random() < 0.5 else base + rng.choice(["(", ")", ",", "-"])
        else:
            name = " ".join(rng.choice(stems) for _ in range(rng.randint(2, 4)))
            name += f" {i}" + rng.choice(["", "", " (NOS)", ", unspecified", "-type"])
        names.append(name)
        mask = i % 16
        concepts.append({
            "id": cid, "name": name,
            "semantic_type": rng.choice(sem_types) if mask & 1 else None,
            "cui": f"C{cid:07d}" if mask & 2 else None,
            "search_type": rng.choice(["exact", "fuzzy"]) if mask & 4 else None,
            "description": None,
            "property_concept": f"P-{cid % 97}" if mask & 8 else None})
    with open(os.path.join(out_dir, "concepts.json"), "w") as f:
        for c in concepts:
            f.write(json.dumps(c) + "\n")

    # A2 hierarchy: duplicate rows kept by CREATE, dangling ids included
    hier = []
    for _ in range(int(N_CONCEPTS * 1.2)):
        child = rng.choice(ids) if rng.random() > 0.02 else rng.randint(900000, 999999)
        hier.append((child, rng.choice(ids)))
    hier += [rng.choice(hier) for _ in range(len(hier) // 30)]
    rng.shuffle(hier)
    with open(os.path.join(out_dir, "hierarchy.json"), "w") as f:
        for child, parent in hier:
            f.write(json.dumps({"child_id": child, "parent_id": parent}) + "\n")

    # A3 id map: 90 % of concepts plus unknown ids (the miss path)
    mapped = [c for c in ids if rng.random() < 0.9]
    unknown = [rng.randint(500000, 599999) for _ in range(N_CONCEPTS // 50)]
    id_map = {str(c): 900000 + n for n, c in enumerate(mapped + unknown)}
    with open(os.path.join(out_dir, "id_mapping.json"), "w") as f:
        json.dump(id_map, f)

    # A4 workbook: per-label entity pools shared across sheets, as in the
    # reference (one medication appears in several relationship sheets)
    pools = {}

    def entity(label):
        pool = pools.setdefault(label.strip(), [
            (f"{label.strip()} {k}", f"{label.strip()[:3].upper()}{k}") for k in range(60)])
        return rng.choice(pool)

    n4 = int(N_SHEET_ROWS * SHEET4_SHARE)
    others = [s for s in SHEETS if s != 4]
    per_sheet = {s: (N_SHEET_ROWS - n4) // len(others) for s in others}
    per_sheet[4] = N_SHEET_ROWS - sum(per_sheet.values())
    sheets = [[] for _ in range(N_PARTS)]
    for s, ((l1, v1, i1), (l2, v2, i2), _) in SHEETS.items():
        rows = [[f"h{c}" for c in range(N_COLS)]]
        seen = []
        for r in range(per_sheet[s]):
            if s == 4 and seen and rng.random() < 0.45:
                pair = rng.choice(seen)  # repeated pair: MERGE collapses it
            else:
                pair = (entity(l1), entity(l2))
                seen.append(pair)
            (n1, id1), (n2, id2) = pair
            if rng.random() < 0.02:
                id1 = None  # null node1 id passes through as 'None'
            if rng.random() < 0.02:
                id2 = None  # null node2 id drops the row
            cells = [None] * N_COLS
            cells[v1], cells[v2] = n1, n2
            cells[i1], cells[i2] = id1, id2
            rows.append(cells)
        # a row with an empty first cell ends the scan; rows after it are ignored
        rows.append(None)
        rows += [[f"ignored {k}"] + [f"X{k}"] * (N_COLS - 1) for k in range(3)]
        sheets[s] = rows
    _workbook(os.path.join(out_dir, "relationships.xlsx"), sheets)

    # enrichment service answers: 5 % of ids unknown (404), 0.2 % fail once
    # (503, then 200 on the retry)
    fetched = [c["id"] for c in concepts if c["semantic_type"] != SKIP_TYPE]
    picked = rng.sample(fetched, len(fetched) // 20 + len(fetched) // 500)
    status = {cid: 404 for cid in picked[:len(fetched) // 20]}
    status.update({cid: 503 for cid in picked[len(fetched) // 20:]})
    answers = {cid: (status.get(cid, 200),
                     [f"{rng.choice(PROPERTY_TYPES)}:{k}" for k in range(rng.randint(1, 3))])
               for cid in fetched}
    with open(os.path.join(out_dir, "service.tsv"), "w") as f:
        for cid in sorted(answers):
            status, types = answers[cid]
            f.write(f"{cid}\t{status}\t{','.join(types)}\n")

    return _expected(concepts, hier, id_map, sheets, answers)


def _expected(concepts, hier, id_map, sheets, answers):
    first = {}
    for c in concepts:
        first.setdefault(sanitize(c["name"]), c)
    node_keys = {("Concept", k) for k in first}
    sheet_edges = set()
    for s, ((l1, _, i1), (l2, _, i2), rel) in SHEETS.items():
        for cells in sheets[s][1:]:
            if cells is None:
                break
            if cells[i2] is None:
                continue
            id1 = cells[i1] if cells[i1] is not None else "None"
            node_keys |= {(l1, id1), (l2, cells[i2])}
            sheet_edges.add((l1, id1, l2, cells[i2], rel))
    hits = sum(1 for c in first.values() if str(c["id"]) in id_map)
    survivors = {str(c["id"]) for c in first.values()}
    enriched_typed = sum(1 for status, _ in answers.values() if status != 404)
    return {
        "concept_nodes": len(first),
        "nodes": len(node_keys),
        "hierarchy_edges": len(hier),
        "dup_hierarchy_edges": len(hier) - len(set(hier)),
        "sheet_edges": len(sheet_edges),
        "edges": len(hier) + len(sheet_edges),
        "entity_hits": hits,
        "entity_misses": sum(1 for k in id_map if k not in survivors),
        "enriched": len(answers),
        "enriched_typed": enriched_typed,
        "service_requests": len(answers) + sum(1 for s, _ in answers.values() if s == 503),
        "service_503": sum(1 for s, _ in answers.values() if s == 503),
        "service_404": sum(1 for s, _ in answers.values() if s == 404),
    }
