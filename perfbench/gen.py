"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of its seed (and size arguments): it
writes its files with the standard library, NumPy and PyArrow only — no
Spark — and returns the properties it planted, so the workloads can
check the engine's outputs against what the generator knows rather than
against a second run of the engine.

- ``medallion_landing``: banks TSV, claims CSV with decimal-comma
  ``Índice``, two pipe-delimited employee variants with schema drift;
  returns the expected gold aggregates, the expected banks-silver names
  and the planted quality violations.
- ``tpch_tables``: TPC-H-like parquet tables with the column names and
  value domains the registry queries and their DuckDB oracles expect.
- ``query_sequence``: the seeded order of registry queries.
- ``corpus``: documents and embeddings with planted near-duplicate
  clusters and one boilerplate hot bucket each.
- ``event_files``: stream event files with duplicate ids across files,
  rows later than the watermark and files that must be quarantined.
"""

from __future__ import annotations

import csv
import io
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------ medallion

SEGMENTS = ["S1", "S2", "S3", "S4", "S5"]
CATEGORIES = ["Bancos", "Financeiras", "Cooperativas", "Pagamentos"]
WORDS = [
    "ALFA", "BETA", "GAMA", "DELTA", "OMEGA", "SIGMA", "RIO", "SUL",
    "NORTE", "CENTRAL", "UNIÃO", "PAULISTA", "MINEIRO", "CRÉDITO",
    "FUTURO", "CAPITAL", "AGRO", "POPULAR", "FORTE", "AZUL",
]
# Raw-name decorations. Each one, fed through the engine's conforming
# rules, must come back as the bare canonical name.
DECORATIONS = {
    "plain": "{c}",
    "sa_dots": "{c} S.A.",            # punctuation rule, then " SA$"
    "sa_slash": "{c} S/A",            # slash rule, then " SA$"
    "sa_dash": "{c} S-A",             # dash rule, then " SA$"
    "conglomerado": "{c} (conglomerado)",
    "prudencial": "{c} PRUDENCIAL",
    "pagamento": "{c} INSTITUIÇÃO DE PAGAMENTO",
}
SCFI_LONG = "SOCIEDADE DE CRÉDITO, FINANCIAMENTO E INVESTIMENTO"
# Special entities: (canonical name as claims and gold carry it,
# raw employee name that must conform/remap onto it).
SPECIAL_BANKS = [
    ("SANTANA CRÉDITO", "SF3 CRÉDITO"),                        # gold remap
    ("BANCO CAPITAL", "SOCIAL BANK BANCO MÚLTIPLO"),           # gold remap
    ("BANCODEUTSCHE BANK  BANCO ALEMAO", "BANCO DEUTSCHE"),    # " DEUTSCHE$"
    ("BANCO SUMITOMO MITSUI BRASILEIRO", "BANCO SUMITOMO MITSUI BRASIL"),
    ("ALFA SCFI", "ALFA " + SCFI_LONG),                        # SCFI rule
]

EMPLOYEE_COLUMNS = [
    "employer_name", "reviews_count", "culture_count", "salaries_count",
    "benefits_count", "employer-website", "employer-headquarters",
    "employer-founded", "employer-industry", "employer-revenue", "url",
    "Geral", "Cultura e valores", "Diversidade e inclusão",
    "Qualidade de vida", "Alta liderança", "Remuneração e benefícios",
    "Oportunidades de carreira", "Recomendam para outras pessoas(%)",
    "Perspectiva positiva da empresa(%)", "CNPJ", "Segmento", "Nome",
    "match_percent",
]
# Schema drift: each variant lacks one column and orders the rest its own way.
EMPLOYEE_V1 = [c for c in EMPLOYEE_COLUMNS if c != "match_percent"]
EMPLOYEE_V2 = list(reversed([c for c in EMPLOYEE_COLUMNS if c != "employer-website"]))

CLAIMS_HEADER = [
    "Categoria", "Instituição financeira", "CNPJ IF", "Índice",
    "Quantidade de reclamações reguladas procedentes",
    "Quantidade de clientes – SCR",
    "Quantidade total de clientes – CCS e SCR",
    "Quantidade total de reclamações",
]


@dataclass
class MedallionInputs:
    root: str
    files: dict[str, list[str]]          # dataset -> landing files
    rows: int                            # landing data rows, all files
    bytes: int                           # landing bytes, all files
    gold: dict[tuple, tuple]             # (nome, cnpj, categoria) -> 5 aggregates
    banks_silver: list[tuple]            # sorted (cnpj, nome, nome_fantasia)
    violations: dict[str, int] = field(default_factory=dict)
    duplicate_banks: int = 0


def _csv_text(header: list[str], rows: list[list], sep: str) -> str:
    buf = io.StringIO()
    w = csv.writer(buf, delimiter=sep, lineterminator="\n", quoting=csv.QUOTE_MINIMAL)
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue()


def _write_text(path: str, text: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = text.encode("utf-8")
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def medallion_landing(
    root: str, seed: int, n_banks: int = 4000, n_claims: int = 80000,
    n_employees: int = 16000,
) -> MedallionInputs:
    """Write the three landing datasets under ``root``; return what the
    gold table and the quality reports must say about them."""
    rng = random.Random(seed)
    banks = []  # (canonical, cnpj, segmento, categoria)
    cnpjs = rng.sample(range(10_000_000, 99_999_999), n_banks + 50)
    for i, (canon, _) in enumerate(SPECIAL_BANKS):
        banks.append((canon, str(cnpjs[i]), rng.choice(SEGMENTS), rng.choice(CATEGORIES)))
    for i in range(len(SPECIAL_BANKS), n_banks):
        canon = f"{rng.choice(['BANCO', 'CAIXA', 'COOPERATIVA'])} {rng.choice(WORDS)} {i:05d}"
        banks.append((canon, str(cnpjs[i]), rng.choice(SEGMENTS), rng.choice(CATEGORIES)))
    orphan_cnpjs = [str(c) for c in cnpjs[n_banks:]]

    # banks TSV: decorated names, a double-space fantasy suffix on some,
    # planted null names and exact duplicate rows.
    bank_rows, silver_by_row = [], []
    for canon, cnpj, seg, _ in banks:
        r = rng.random()
        if r < 0.02:
            raw, clean = "", None
        elif r < 0.30:
            suffix = f"FANTASIA {rng.choice(WORDS)}"
            raw, clean = f"{canon} S.A.  {suffix}", f"{canon} SA  {suffix}"
        else:
            raw = DECORATIONS[rng.choice(sorted(DECORATIONS))].format(c=canon)
            clean = canon
        # nome_fantasia: what follows the first double space, if any
        fantasy = clean.split("  ")[1] if clean and "  " in clean else None
        bank_rows.append([seg, cnpj, raw])
        silver_by_row.append((cnpj, clean, fantasy))
    dup_idx = rng.sample(range(len(bank_rows)), max(1, n_banks // 100))
    bank_rows += [list(bank_rows[i]) for i in dup_idx]
    banks_silver = silver_by_row + [silver_by_row[i] for i in dup_idx]
    rng.shuffle(bank_rows)

    # claims CSV: each row names its bank through a random decoration.
    claim_rows, acc = [], {}
    null_cat = 0
    for _ in range(n_claims):
        if rng.random() < 0.01:
            cnpj, canon = rng.choice(orphan_cnpjs), "ORFAO"
            cat = rng.choice(CATEGORIES)
        else:
            canon, cnpj, _, cat = rng.choice(banks)
        if canon == "ALFA SCFI":
            raw = SPECIAL_BANKS[4][1]
        elif canon.startswith("BANCODEUTSCHE"):
            raw = canon
        else:
            raw = DECORATIONS[rng.choice(sorted(DECORATIONS))].format(c=canon)
        if rng.random() < 0.02:
            cat = None
            null_cat += 1
        idx_cents = rng.randint(0, 9999)
        clients = rng.randint(1, 5_000_000)
        complaints = rng.randint(0, 5000)
        claim_rows.append([
            cat or "", raw, cnpj, f"{idx_cents // 100},{idx_cents % 100:02d}",
            rng.randint(0, complaints), rng.randint(0, clients), clients, complaints,
        ])
        if canon != "ORFAO":
            key = (canon, cnpj, cat)
            a = acc.setdefault(key, [0, 0, 0, 0])
            a[0] += 1
            a[1] += clients
            a[2] += idx_cents // 100     # the reference's int truncation
            a[3] += complaints

    # employees: at most one row per matching bank, split across the two
    # drifted variants, plus unmatched noise rows.
    emp_by_canon, emp_rows = {}, []
    null_seg = 0
    specials = dict(SPECIAL_BANKS)
    for canon, cnpj, seg, _ in banks:
        if rng.random() < 0.6 or canon in specials:
            geral, salario = round(rng.uniform(1, 5), 1), round(rng.uniform(1, 5), 1)
            emp_by_canon[canon] = (geral, salario)
            raw = specials.get(canon) or DECORATIONS[rng.choice(sorted(DECORATIONS))].format(c=canon)
            emp_rows.append((raw, cnpj, seg, geral, salario))
    for i in range(max(0, n_employees - len(emp_rows))):
        emp_rows.append((f"EMPRESA SEM BANCO {i:05d}", "", rng.choice(SEGMENTS),
                         round(rng.uniform(1, 5), 1), round(rng.uniform(1, 5), 1)))
    rng.shuffle(emp_rows)
    variants: list[list[list]] = [[], []]
    for i, (raw, cnpj, seg, geral, salario) in enumerate(emp_rows):
        if rng.random() < 0.02:
            seg = ""
            null_seg += 1
        rec = {c: "" for c in EMPLOYEE_COLUMNS}
        rec.update({
            "employer_name": raw.lower(), "reviews_count": str(rng.randint(0, 900)),
            "employer-website": "https://example.com", "Geral": str(geral),
            "Remuneração e benefícios": str(salario), "CNPJ": cnpj,
            "Segmento": seg, "Nome": raw, "match_percent": str(rng.randint(50, 100)),
        })
        v = i % 2
        cols = EMPLOYEE_V1 if v == 0 else EMPLOYEE_V2
        variants[v].append([rec[c] for c in cols])

    files = {
        "banks": [os.path.join(root, "banks", "banks.tsv")],
        "claims": [os.path.join(root, "claims", "claims.csv")],
        "employees": [os.path.join(root, "employees_v1", "employees.psv"),
                      os.path.join(root, "employees_v2", "employees.psv")],
    }
    nbytes = _write_text(files["banks"][0], _csv_text(["Segmento", "CNPJ", "Nome"], bank_rows, "\t"))
    nbytes += _write_text(files["claims"][0], _csv_text(CLAIMS_HEADER, claim_rows, ","))
    nbytes += _write_text(files["employees"][0], _csv_text(EMPLOYEE_V1, variants[0], "|"))
    nbytes += _write_text(files["employees"][1], _csv_text(EMPLOYEE_V2, variants[1], "|"))

    gold = {}
    for (canon, cnpj, cat), (n, clients, idx, complaints) in acc.items():
        sat = emp_by_canon.get(canon, (None, None))
        gold[(canon, cnpj, cat)] = (
            float(np.floor(clients / n + 0.5)), idx / n, complaints / n, sat[0], sat[1],
        )
    return MedallionInputs(
        root=root, files=files,
        rows=len(bank_rows) + len(claim_rows) + len(emp_rows), bytes=nbytes,
        gold=gold, banks_silver=sorted(banks_silver, key=repr),
        violations={"banks.nome": sum(r[1] is None for r in banks_silver),
                    "claims.categoria": null_cat,
                    "employees.segmento": null_seg},
        duplicate_banks=len(dup_idx),
    )


# ------------------------------------------------------------ TPC-H-like

NATIONS = 25
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
MKT_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _us(day0: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(day0, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _write_table(path: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), path)


def tpch_tables(root: str, seed: int, n_orders: int = 8000) -> dict[str, int]:
    """Write ``{table}.parquet`` files under ``root`` in the layout the
    registry's table reader and the DuckDB oracles use; return row
    counts per table. Sizes scale with ``n_orders`` (15k ≈ sf0.01)."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_part, n_supp = n_orders // 10, n_orders * 2 // 15, max(10, n_orders // 150)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    _write_table(os.path.join(root, "region.parquet"), {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write_table(os.path.join(root, "nation.parquet"), {
        "n_nationkey": pa.array(np.arange(NATIONS, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(NATIONS)]),
        "n_regionkey": pa.array((np.arange(NATIONS) % 5).astype(np.int32))})
    _write_table(os.path.join(root, "customer.parquet"), {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, NATIONS, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(MKT_SEGMENTS, n_cust))})
    _write_table(os.path.join(root, "supplier.parquet"), {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, NATIONS, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    _write_table(os.path.join(root, "part.parquet"), {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(P_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1 % 100, 2))})
    days = 2404  # 1995-01-01 .. 2001-08-01
    odate = rng.integers(0, days, n_orders) * 86_400_000_000
    _write_table(os.path.join(root, "orders.parquet"), {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(money(1000, 500000, n_orders)),
        "o_orderdate": _us("1995-01-01", odate),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders))})
    per_order = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    lineno = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odate[okey] + rng.integers(1, 122, n_li) * 86_400_000_000
    _write_table(os.path.join(root, "lineitem.parquet"), {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lineno),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _us("1995-01-01", ship)})
    n_ev = n_orders * 2 // 3
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write_table(os.path.join(root, "events.parquet"), {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _us("2024-01-01", ev_ts),
        "user_id": pa.array(rng.integers(0, 150, n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    return {"region": 5, "nation": NATIONS, "customer": n_cust, "supplier": n_supp,
            "part": n_part, "orders": n_orders, "lineitem": n_li, "events": n_ev}


def query_sequence(pool: list[str], seed: int, rounds: int) -> list[str]:
    """``rounds`` back-to-back seeded permutations of ``pool``: every
    query recurs equally often, the order differs per seed."""
    rng = random.Random(seed)
    seq = []
    for _ in range(rounds):
        block = list(pool)
        rng.shuffle(block)
        seq += block
    return seq


# --------------------------------------------------------------- corpus

VOCAB = np.array([f"w{i}" for i in range(4000)])
BOILERPLATE = ("accept all cookies to continue reading this page and agree "
               "to the terms of service and the privacy policy of this site")


@dataclass
class CorpusInputs:
    docs_path: str
    vecs_path: str
    n_docs: int
    n_vecs: int
    bytes: int
    distinct_texts: int                  # docs left after exact dedup
    text_pairs: set                      # planted near-dup doc pairs (a < b)
    vec_pairs: set                       # planted near-dup vector pairs (a < b)


def corpus(root: str, seed: int, n_docs: int = 2400, n_vecs: int = 2400,
           dim: int = 32) -> CorpusInputs:
    """Documents and embeddings with planted near-duplicate clusters.

    Text: clusters of 2-4 docs that differ from their base in one or two
    words; 5% of docs are one identical boilerplate text (an exact-dup
    hot bucket for the LSH stages, excluded from the planted pairs).
    Vectors: clusters of 2-4 that differ by ~0.1% noise (cosine > 0.999);
    5% sit on one common direction (the vector hot bucket)."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    texts, text_pairs = [], set()
    n_boiler = n_docs // 20
    while len(texts) < n_docs - n_boiler:
        base = list(rng.choice(VOCAB, int(rng.integers(60, 120))))
        members = [len(texts)]
        texts.append(" ".join(base))
        if rng.random() < 0.3:
            for _ in range(int(rng.integers(1, 4))):
                if len(texts) >= n_docs - n_boiler:
                    break
                var = list(base)
                for pos in rng.choice(len(var), int(rng.integers(1, 3)), replace=False):
                    var[pos] = str(rng.choice(VOCAB))
                members.append(len(texts))
                texts.append(" ".join(var))
            text_pairs |= {(a, b) for a in members for b in members if a < b}
    boiler_ids = sorted(rng.choice(np.arange(n_docs), n_boiler, replace=False).tolist())
    boiler_set = set(boiler_ids)
    order = [i for i in range(n_docs) if i not in boiler_set]
    # doc ids: planted docs keep generation order on the non-boilerplate ids
    remap = dict(zip(range(len(order)), order))
    all_texts = [""] * n_docs
    for gen_id, doc_id in remap.items():
        all_texts[doc_id] = texts[gen_id]
    for b in boiler_ids:
        all_texts[b] = BOILERPLATE
    text_pairs = {tuple(sorted((remap[a], remap[b]))) for a, b in text_pairs}
    distinct = len(set(" ".join(t.lower().split()) for t in all_texts))

    vecs, vec_pairs = [], set()
    hot = rng.normal(size=dim)
    n_hot = n_vecs // 20
    while len(vecs) < n_vecs - n_hot:
        base = rng.normal(size=dim)
        members = [len(vecs)]
        vecs.append(base)
        if rng.random() < 0.3:
            for _ in range(int(rng.integers(1, 4))):
                if len(vecs) >= n_vecs - n_hot:
                    break
                members.append(len(vecs))
                vecs.append(base + rng.normal(scale=1e-3 * np.linalg.norm(base) / np.sqrt(dim), size=dim))
            vec_pairs |= {(a, b) for a in members for b in members if a < b}
    vecs += [hot + rng.normal(scale=1e-4, size=dim) for _ in range(n_hot)]
    mat = np.asarray(vecs, dtype=np.float32)

    docs_path = os.path.join(root, "documents.parquet")
    vecs_path = os.path.join(root, "embeddings.parquet")
    _write_table(docs_path, {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(all_texts)})
    _write_table(vecs_path, {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(mat), pa.list_(pa.float32()))})
    return CorpusInputs(
        docs_path=docs_path, vecs_path=vecs_path, n_docs=n_docs, n_vecs=n_vecs,
        bytes=os.path.getsize(docs_path) + os.path.getsize(vecs_path),
        distinct_texts=distinct, text_pairs=text_pairs, vec_pairs=vec_pairs,
    )


# --------------------------------------------------------------- stream

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()),
])


@dataclass
class StreamInputs:
    files: list[str]                     # staged files, in landing order
    rows: list[int]                      # rows per file
    quarantined: set                     # indexes of files that must be quarantined
    fresh_ids: list[range]               # per file: ids seen for the first time
    dup_counts: list[int]                # per file: re-sent ids (all must be dropped)
    late_counts: list[int]               # per file: rows behind the watermark


def event_files(root: str, seed: int, n_files: int, per_file: int = 1000,
                quarantine_every: int = 4) -> StreamInputs:
    """Event parquet files for the streaming workload, staged under
    ``root`` (the workload renames them into the landing directory one
    at a time).

    Each file covers one minute of event time after the previous one
    (the watermark is 10 minutes). From file 1 on, each file re-sends
    1% of the previous file's ids (duplicates within the watermark); from
    file 2 on, it carries 1% rows a day old (behind the watermark). The
    last file of every ``quarantine_every`` has null ``user_id`` rows, so
    the quality gate must quarantine its whole batch."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    minute = 60_000_000
    files, rows, quarantined, fresh, dups, lates = [], [], set(), [], [], []
    next_id, prev_ids = 0, np.array([], dtype=np.int64)
    for f in range(n_files):
        ids = np.arange(next_id, next_id + per_file, dtype=np.int64)
        next_id += per_file
        ts = f * minute + np.sort(rng.integers(0, minute, per_file))
        n_dup = per_file // 100 if f else 0
        # a batch's event times move the watermark for the batch after
        # next, so rows behind it are planted from the third file on
        n_late = per_file // 100 if f >= 2 else 0
        dup_ids = rng.choice(prev_ids, n_dup, replace=False) if n_dup else ids[:0]
        late_ids = np.arange(next_id, next_id + n_late, dtype=np.int64)
        next_id += n_late
        all_ids = np.concatenate([ids, dup_ids, late_ids])
        all_ts = np.concatenate([ts, np.full(n_dup, f * minute), ts[:n_late] - 1440 * minute])
        n = len(all_ids)
        user = rng.integers(0, 500, n).astype(np.float64)
        bad = f % quarantine_every == quarantine_every - 1
        if bad:
            user[rng.choice(per_file, 5, replace=False)] = np.nan  # fresh rows only
            quarantined.add(f)
        tbl = pa.table({
            "event_id": pa.array(all_ids),
            "ts": _us("2024-01-01", all_ts),
            "user_id": pa.array(user, mask=np.isnan(user)).cast(pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50, n), 2) + 0.01),
        }, schema=EVENT_SCHEMA)
        path = os.path.join(root, f"events-{f:05d}.parquet")
        pq.write_table(tbl, path)
        files.append(path)
        rows.append(n)
        fresh.append(range(int(ids[0]), int(ids[-1]) + 1))
        dups.append(n_dup)
        lates.append(n_late)
        prev_ids = ids
    return StreamInputs(files=files, rows=rows, quarantined=quarantined,
                        fresh_ids=fresh, dup_counts=dups, late_counts=lates)
