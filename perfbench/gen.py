"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (workload, seed): the same seed
writes byte-identical files, another seed writes different ones. The
program under test only ever sees the files written here.

`documents` follows the schema and text shape of the corpus the library's
queries are written against (`Tables`): words drawn from the same
31-word vocabulary, 10-100 words per document.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

POLICY_TYPES = ["term-life", "whole-life", "universal-life", "endowment", "annuity"]
POLICY_FILES = 10
POLICIES_PER_FILE = 40

DOCS = 400
DOC_DUP_SHARE = 0.25
DOC_EDITS = 3

DML_INITIAL_ROWS = 1000
DML_ROWS_PER_INSERT = 200
# One compaction cycle: every seed runs the same statement mix, with
# seeded rows, keys and ranges.
DML_CYCLE = ["insert", "range", "merge", "asof", "delete", "point", "compact"]
DML_CYCLES = 40


def rng_for(workload, seed):
    salt = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "little")
    return np.random.Generator(np.random.PCG64([seed, salt]))


def _write_parquet(table, path):
    # no pandas metadata, one row group, fixed writer settings: identical
    # tables give identical bytes
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30,
                   store_schema=False)


def _doc_text(rng):
    return " ".join(rng.choice(WORDS, int(rng.integers(10, 101))))


def gen_near_dup(out, seed):
    """`documents` with planted near-duplicates: each planted copy is an
    earlier document with DOC_EDITS single-token substitutions."""
    rng = rng_for("near_dup", seed)
    # the same number of planted copies under every seed, so the pair
    # index does the same amount of work
    copies = set(rng.choice(np.arange(1, DOCS), round(DOCS * DOC_DUP_SHARE), replace=False).tolist())
    texts, planted = [], 0
    for i in range(DOCS):
        if i in copies:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(DOC_EDITS):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
            planted += 1
        else:
            texts.append(_doc_text(rng))
    lens = [len(t) for t in texts]
    docs = pa.table({
        "doc_id": pa.array(np.arange(DOCS), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(DOCS)],
        "n_chars": pa.array(lens, pa.int64())})
    _write_parquet(docs, os.path.join(out, "documents.parquet"))
    q = np.percentile(lens, [25, 50, 75]).tolist()
    return {"rows": {"documents": DOCS}, "planted_dup_rate": planted / DOCS,
            "doc_chars_quartiles": q}


def gen_reserve_mc(out, seed):
    """Ten policy CSVs in the reference's 9-column schema; whole-year terms
    of 1-30 years over five policy types."""
    rng = rng_for("reserve_mc", seed)
    pdir = os.path.join(out, "policies")
    os.makedirs(pdir, exist_ok=True)
    strata = set()
    expected = 0.0
    variance = 0.0
    for f in range(POLICY_FILES):
        n = POLICIES_PER_FILE
        years = rng.integers(1, 31, n)
        types = rng.choice(POLICY_TYPES, n)
        strata.update(zip(types.tolist(), years.tolist()))
        start = np.datetime64("2000-01-01") + rng.integers(0, 8000, n)
        t = pa.table({
            "id": [f"P-{f:02d}-{i:05d}" for i in range(n)],
            "age": rng.integers(18, 80, n).astype(np.float64),
            "gender": rng.choice(["F", "M"], n),
            "smoking_status": rng.choice(["smoker", "non-smoker"], n),
            "occupation": rng.choice(["engineer", "teacher", "nurse", "pilot",
                                      "clerk"], n),
            "policy_type": types,
            "effective_date": [str(d) for d in start],
            "term": years * 365.0,
            "premium": np.round(rng.uniform(50.0, 900.0, n), 2)})
        pacsv.write_csv(t, os.path.join(pdir, f"policy_{f + 1}.csv"))
        # per policy n ~ floor(Exp(mean m)), m = years: geometric with
        # q = e^{-1/m}; E = q/(1-q) = 1/(e^{1/m}-1), Var = q/(1-q)^2
        q = np.exp(-1.0 / years)
        expected += float(np.sum(100.0 * q / (1.0 - q)))
        variance += float(np.sum(1e4 * q / (1.0 - q) ** 2 + 100.0 * q / (1.0 - q)))
    return {"rows": {"policies": POLICY_FILES * POLICIES_PER_FILE},
            "actuarial.strata": len(strata),
            "expected_reserve": expected, "trial_variance": variance}


def _values(rows):
    return ", ".join(f"({i}L, '{lang}', {n}L)" for i, lang, n in rows)


def gen_lakehouse_dml(out, seed):
    """One seeded statement stream of DML_CYCLES compaction cycles, applied
    to both table flavors.

    `statements.tsv` has one statement per line: kind, the SQL for the
    merge-on-read digest table, the SQL for the evolve table (`-` where
    that flavor lacks the statement), with `{T}` for the qualified table
    name and `{S}` for its catalog-relative name. Line 1 is the initial
    load. Digest versions count commits: the load is version 1 and every
    INSERT, MERGE, DELETE and compaction adds one.
    """
    rng = rng_for("lakehouse_dml", seed)
    next_id = 0
    live = []
    lines = []

    def new_rows(n):
        nonlocal next_id
        rows = [(next_id + k, str(rng.choice(LANGS, p=LANG_P)), int(rng.integers(40, 600)))
                for k in range(n)]
        next_id += n
        live.extend(r[0] for r in rows)
        return rows

    def both(kind, q, evolve=True):
        lines.append((kind, q, q if evolve else "-"))

    both("insert", f"INSERT INTO {{T}} VALUES {_values(new_rows(DML_INITIAL_ROWS))}")
    version = 1
    sel = "SELECT doc_id, lang, n_chars FROM {T}"
    for _ in range(DML_CYCLES):
        for kind in DML_CYCLE:
            if kind == "insert":
                both(kind, f"INSERT INTO {{T}} VALUES {_values(new_rows(DML_ROWS_PER_INSERT))}")
            elif kind == "merge":
                ids = sorted(int(x) for x in rng.choice(live, 20, replace=False))
                src = [(i, str(rng.choice(LANGS)), int(rng.integers(40, 600))) for i in ids]
                src += new_rows(1)
                both(kind, "MERGE INTO {T} t USING (SELECT * FROM VALUES "
                     f"{_values(src)} AS v(doc_id, lang, n_chars)) u ON t.doc_id = u.doc_id "
                     "WHEN MATCHED THEN UPDATE SET n_chars = u.n_chars "
                     "WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars) "
                     "VALUES (u.doc_id, u.lang, u.n_chars)")
            elif kind == "delete":
                lo = int(rng.integers(0, next_id))
                both(kind, f"DELETE FROM {{T}} WHERE doc_id >= {lo} AND doc_id < {lo + 40}")
                live = [x for x in live if not lo <= x < lo + 40]
            elif kind == "point":
                both(kind, f"{sel} WHERE doc_id = {int(rng.choice(live))}")
            elif kind == "range":
                lo = int(rng.integers(0, next_id))
                both(kind, f"{sel} WHERE doc_id >= {lo} AND doc_id < {lo + 300} "
                           f"AND lang = '{rng.choice(LANGS)}'")
            elif kind == "asof":
                lo = int(rng.integers(0, next_id))
                v = max(1, version - int(rng.integers(1, 4)))
                both(kind, f"{sel} VERSION AS OF {v} WHERE doc_id >= {lo} AND doc_id < {lo + 300}",
                     evolve=False)
            else:
                both(kind, "CALL graft.system.compact(table => '{S}')", evolve=False)
            if kind in ("insert", "merge", "delete", "compact"):
                version += 1
    with open(os.path.join(out, "statements.tsv"), "w") as f:
        for line in lines:
            f.write("\t".join(line) + "\n")
    return {"rows": {"statements": len(lines), "initial_rows": DML_INITIAL_ROWS}}


GENERATORS = {
    "reserve_mc": gen_reserve_mc,
    "near_dup": gen_near_dup,
    "lakehouse_dml": gen_lakehouse_dml,
}


def generate(workload, seed, out):
    """Writes the workload's inputs under `out` and returns their
    properties (row counts, bytes, and the workload-specific ones)."""
    os.makedirs(out, exist_ok=True)
    props = GENERATORS[workload](out, seed)
    total = 0
    for root, _, files in os.walk(out):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    props["bytes"] = total
    return props
