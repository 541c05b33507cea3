"""Seeded input generator for the scan-report and LLM-curation workloads.

Every input is synthesised from the seed alone (no external data). The
scan tables have the schemas of the sf0.1 tables the engine's tests use,
with values from DuckDB's hash() of (row, column salt, seed); the
curation inputs come from Python's and numpy's seeded generators. The same
seed gives byte-identical files with the same library versions.

Perturbations that keep sizes fixed but move the inference branches
(profiling fixture families in FIXTURES.md section B):
  * row order is a seeded shuffle of the key order;
  * numeric columns carry a share of empty cells (missing, still promoted
    to numeric); some also carry "NA" cells, which keep them as text;
  * date columns carry a few garbage strings (dirty dates, still promoted
    because they stay under the 20% tolerance).

Usage: python3 perfbench/gen.py <scan_capped|scan_full|llm_curate> <seed> <outdir>
"""
import json
import os
import random
import sys

import duckdb

# Per-workload inputs. A cold CLI run's cost is dominated by per-job
# overhead (tens of Spark jobs per file while the JIT is cold), so each
# scan workload holds two tables rather than all nine: one cold run then
# fits the benchmark's per-run time budget.
#   scan_capped: lineitem at 100x the workload's maxRows cap, next to a
#     dimension table under the cap. Every pass over the capped frame
#     re-parses the whole file, so most of the run's CPU time grows with the
#     input rather than with the profiled rows.
#   scan_full: every row profiled (no cap); date columns for DateShift.
#   llm_curate: documents x rotated copies + near-dups for MinHash; for
#     IVF-PQ, 11 noisy copies of each base vector, so a query's exact top-10
#     are its siblings, noisy enough that some land in other IVF lists.
WORKLOADS = {
    "scan_capped": {"tables": {"lineitem": 1000000, "nation": 25}},
    "scan_full": {"tables": {"orders": 15000, "events": 10000}},
    "llm_curate": {"base_docs": 300, "copies": 4, "near_dup_share": 0.05,
                   "base_vecs": 180, "vec_copies": 11, "vec_noise": 0.5,
                   "dim": 64},
}

NA_SHARE = 0.01      # "" or "NA" cells in numeric columns
DIRTY_DATE = 0.003   # garbage strings in date columns

VOCAB = ("a the data spark table query join sort filter group agg value "
         "key row column line part order customer scan hash window stream "
         "batch merge vector fast slow big small").split()


def _u(expr_i, salt, seed):
    """Uniform [0,1) from hash(row, salt, seed)."""
    return f"((hash({expr_i}, '{salt}', {seed}) % 1000000007) / 1000000007.0)"


def _pick(options, expr_i, salt, seed):
    arr = "[" + ", ".join(f"'{o}'" for o in options) + "]"
    return f"{arr}[1 + (hash({expr_i}, '{salt}', {seed}) % {len(options)})::BIGINT]"


def _dirty_num(val, expr_i, salt, seed, na=True):
    """Numeric text with a share of empty cells (missing; the column is
    still promoted) and, if `na`, literal "NA" cells (which keep the
    column as text: the stays-string branch)."""
    u = _u(expr_i, salt + "_na", seed)
    na_cell = "'NA'" if na else "''"
    return (f"CASE WHEN {u} < {NA_SHARE / 2} THEN '' "
            f"WHEN {u} < {NA_SHARE} THEN {na_cell} ELSE ({val})::VARCHAR END")


def _date(expr_i, salt, seed, lo_days, span_days, dirty=True, ts=False):
    u = _u(expr_i, salt, seed)
    base = f"(DATE '1992-01-01' + (({u}) * {span_days})::INTEGER + {lo_days})"
    if ts:
        micros = f"(({_u(expr_i, salt + '_t', seed)}) * 86400000000)::BIGINT"
        val = (f"strftime({base}::TIMESTAMP + to_microseconds({micros}), "
               f"'%Y-%m-%d %H:%M:%S.%f')")
    else:
        val = f"strftime({base}, '%Y-%m-%d')"
    if not dirty:
        return val
    d = _u(expr_i, salt + "_dirty", seed)
    bad = _pick(["not a date", "2023-13-45", "??", "unknown"],
                expr_i, salt + "_bad", seed)
    return f"CASE WHEN {d} < {DIRTY_DATE} THEN {bad} ELSE {val} END"


def _table_sql(name, n, seed):
    i = "i"
    s = seed
    if name == "nation":
        cols = [f"{i}::VARCHAR AS n_nationkey", f"'NATION_' || {i} AS n_name",
                f"({i} % 5)::VARCHAR AS n_regionkey"]
    elif name == "orders":
        cols = [f"{i}::VARCHAR AS o_orderkey",
                f"(hash({i}, 'oc', {s}) % {max(1, n // 10)})::VARCHAR AS o_custkey",
                _pick(["O", "F", "P"], i, "os", s) + " AS o_orderstatus",
                _dirty_num(f"round({_u(i, 'ot', s)} * 500000 + 800, 2)", i, "ot", s, na=False) + " AS o_totalprice",
                _date(i, "od", s, 0, 2400) + " AS o_orderdate",
                _pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], i, "op", s) + " AS o_orderpriority"]
    elif name == "lineitem":
        cols = [f"({i} // 4)::VARCHAR AS l_orderkey",
                f"(hash({i}, 'lp', {s}) % 20000)::VARCHAR AS l_partkey",
                f"(hash({i}, 'ls', {s}) % 1000)::VARCHAR AS l_suppkey",
                f"(1 + {i} % 4)::VARCHAR AS l_linenumber",
                _dirty_num(f"(1 + hash({i}, 'lq', {s}) % 50)::DOUBLE", i, "lq", s, na=False) + " AS l_quantity",
                f"round({_u(i, 'le', s)} * 100000 + 900, 2)::VARCHAR AS l_extendedprice",
                f"((hash({i}, 'ld', {s}) % 11) / 100.0)::VARCHAR AS l_discount",
                f"((hash({i}, 'lt', {s}) % 9) / 100.0)::VARCHAR AS l_tax",
                _pick(["A", "N", "R"], i, "lr", s) + " AS l_returnflag",
                _pick(["O", "F"], i, "ll", s) + " AS l_linestatus",
                _date(i, "lsd", s, 30, 2500) + " AS l_shipdate"]
    elif name == "events":
        cols = [f"{i}::VARCHAR AS event_id",
                _date(i, "ets", s, 11688, 60, dirty=False, ts=True) + " AS ts",
                f"(hash({i}, 'eu', {s}) % 5000)::VARCHAR AS user_id",
                _pick(["view", "click", "purchase", "error", "login"], i, "et", s) + " AS event_type",
                _dirty_num(f"round({_u(i, 'ev', s)} * 200, 2)", i, "ev", s) + " AS value",
                f"'{{k: ' || (hash({i}, 'ek', {s}) % 100)::VARCHAR || '}}' AS props"]
    else:
        raise ValueError(name)
    return (f"SELECT {', '.join(cols)} FROM range({n}) t({i}) "
            f"ORDER BY hash({i}, '{name}', {seed})")


def gen_scan(workload, seed, outdir):
    cfg = WORKLOADS[workload]
    os.makedirs(outdir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    tables = {}
    for name, n in cfg["tables"].items():
        path = os.path.join(outdir, f"{name}.tsv")
        con.execute(f"COPY ({_table_sql(name, n, seed)}) TO '{path}' "
                    "(FORMAT csv, DELIMITER '\t', HEADER, QUOTE '')")
        tables[name] = {"rows": n, "bytes": os.path.getsize(path)}
    con.close()
    return tables


def _rotate(text, r):
    """Letters rotated by r (copy 0 verbatim): injective on the vocabulary,
    so every copy repeats the near-dup structure with no cross-copy pairs."""
    if r == 0:
        return text
    return "".join(chr((ord(c) - 97 + r) % 26 + 97) if "a" <= c <= "z" else c
                   for c in text)


def gen_llm(seed, outdir):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    cfg = WORKLOADS["llm_curate"]
    os.makedirs(outdir, exist_ok=True)
    rng = random.Random(seed)
    base = []
    for _ in range(cfg["base_docs"]):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(12, 80))]
        if rng.random() < cfg["near_dup_share"]:
            # near-dup: the same words with one or two substitutions
            base.append(" ".join(words))
            for _ in range(rng.randint(1, 2)):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
        base.append(" ".join(words))
    texts = [_rotate(t, c) for c in range(cfg["copies"]) for t in base]
    order = list(range(len(texts)))
    rng.shuffle(order)
    docs = pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()),
                     "text": pa.array([texts[j] for j in order])})
    pq.write_table(docs, os.path.join(outdir, "docs.parquet"))

    nprng = np.random.default_rng(seed)
    centers = nprng.standard_normal((cfg["base_vecs"], cfg["dim"]))
    vecs = (np.repeat(centers, cfg["vec_copies"], axis=0)
            + cfg["vec_noise"] * nprng.standard_normal(
                (cfg["base_vecs"] * cfg["vec_copies"], cfg["dim"])))
    vecs = vecs[nprng.permutation(len(vecs))].astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32()))})
    pq.write_table(emb, os.path.join(outdir, "vecs.parquet"))
    return {
        "docs": {"rows": len(texts),
                 "bytes": os.path.getsize(os.path.join(outdir, "docs.parquet"))},
        "vecs": {"rows": len(vecs),
                 "bytes": os.path.getsize(os.path.join(outdir, "vecs.parquet"))},
    }


def generate(workload, seed, outdir):
    """Write the workload's inputs under outdir; returns the manifest."""
    if workload == "llm_curate":
        tables = gen_llm(seed, outdir)
    else:
        tables = gen_scan(workload, seed, os.path.join(outdir, "in"))
    manifest = {
        "workload": workload, "seed": seed, "tables": tables,
        "input_bytes": sum(t["bytes"] for t in tables.values()),
        "input_rows": sum(t["rows"] for t in tables.values()),
    }
    with open(os.path.join(outdir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
