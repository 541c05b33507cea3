"""Output checks for every benchmark iteration, against DuckDB over the
generated inputs (scan reports) or exact recomputation (dedup pairs,
clusters, kNN recall).

`reference(...)` computes the expected figures once per invocation,
outside all timing; `check_scan` / `check_llm` then grade one
iteration's output and return a list of problems (empty = correct).
"""
import datetime as dt
import glob
import hashlib
import os

import duckdb

# Lowest recall@10 of knnIvfPq against brute force accepted by the
# check. Measured 0.98-0.99 on the generator's llm_curate vectors; a drop
# below this floor is an accuracy regression.
RECALL_FLOOR = 0.9

DATE_TYPES = ("POSIXct, POSIXt",)
KNOWN_TYPES = ("character", "numeric") + DATE_TYPES
SHIFT_DAYS = 5  # DateShift's range
REL = 1e-9


def _close(a, b, tol=1e-6):
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


# ----------------------------------------------------------------- scans

def _sql_str(s):
    return "'" + s.replace("'", "''") + "'"


def _reader(path):
    return (f"read_csv({_sql_str(path)}, delim='\t', header=true, "
            "all_varchar=true, quote='', escape='')")


def _parsed(col, dtype):
    c = f'"{col}"'
    if dtype == "numeric":
        return f"TRY_CAST(trim({c}) AS DOUBLE)"
    if dtype in DATE_TYPES:
        return (f"coalesce(try_strptime(trim({c}), '%Y-%m-%d %H:%M:%S.%f'), "
                f"try_strptime(trim({c}), '%Y-%m-%d'))")
    return c


def reference(workload, data_dir, manifest):
    """Per table: row count, columns, and `stat(column, type)`, the figures
    of the full data with the column parsed as that inferred type. Tables
    are loaded into DuckDB once; figures are computed on first use."""
    if workload == "llm_curate":
        return reference_llm(data_dir)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    ref = {}
    for k, name in enumerate(manifest["tables"]):
        table = f"t{k}"
        path = os.path.join(data_dir, "in", f"{name}.tsv")
        con.execute(f"CREATE TABLE {table} AS SELECT * FROM {_reader(path)}")
        cols = [r[0] for r in con.execute(f"DESCRIBE {table}").fetchall()]
        n = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
        ref[name + ".tsv"] = {"rows": n, "columns": cols,
                              "stat": _stat_fn(con, table)}
    return ref


def _stat_fn(con, table):
    cache = {}

    def stat(col, dtype):
        if (col, dtype) not in cache:
            p = _parsed(col, dtype)
            nn, nd, mn, mx = con.execute(
                f"SELECT count({p}), count(DISTINCT {p}), min({p}), max({p}) "
                f"FROM {table}").fetchone()
            hist = {}
            if dtype not in DATE_TYPES:
                hist = dict(con.execute(
                    f"SELECT {p}, count(*) FROM {table} WHERE {p} IS NOT NULL "
                    f"GROUP BY 1").fetchall())
            cache[col, dtype] = {"non_missing": nn, "distinct": nd, "min": mn,
                                 "max": mx, "hist": hist}
        return cache[col, dtype]
    return stat


def read_report(report_dir):
    """Sheets of one scan report as {sheet: [rows of strings]}: the TSV
    sink's part files, or the xlsx sheets the harness dumped as TSV."""
    sheets = {}
    xlsx = os.path.join(report_dir, "xlsx_sheets")
    if os.path.isdir(xlsx):
        for f in sorted(glob.glob(os.path.join(xlsx, "*.tsv"))):
            with open(f, encoding="utf-8") as fh:
                sheets[os.path.basename(f)[:-4]] = [
                    line.rstrip("\n").split("\t") for line in fh]
    else:
        for d in sorted(glob.glob(os.path.join(report_dir, "ScanReport_*"))):
            lines = []
            for part in sorted(glob.glob(os.path.join(d, "part-*"))):
                with open(part, encoding="utf-8") as fh:
                    lines += [line.rstrip("\n").split("\t") for line in fh]
            sheets[os.path.basename(d)[len("ScanReport_"):]] = lines
    return sheets


def digest(sheets):
    h = hashlib.sha256()
    for name in sorted(sheets):
        h.update(name.encode())
        for row in sheets[name]:
            h.update("\t".join(row).encode() + b"\n")
    return h.hexdigest()


def _dicts(rows):
    if not rows:
        return []
    header = rows[0]
    return [dict(zip(header, r)) for r in rows[1:]]


def _f(s):
    return float(s) if s not in ("", None) else None


def check_scan(sheets, ref, cfg):
    """Problems found in one scan report; cfg has max_rows, min_cell_count,
    max_distinct, shift_dates."""
    probs = []
    overview = _dicts(sheets.get("Overview", []))
    if len(overview) != len(ref):
        return [f"overview has {len(overview)} files, expected {len(ref)}"]
    for i, o in enumerate(overview, start=1):
        name = o["FileName"]
        if name not in ref:
            probs.append(f"unexpected file {name}")
            continue
        r = ref[name]
        capped = 0 < cfg["max_rows"] < r["rows"]
        checked = cfg["max_rows"] if capped else r["rows"]
        if int(o["N_rows"]) != r["rows"] + 1:
            probs.append(f"{name}: N_rows {o['N_rows']} != {r['rows'] + 1}")
        if int(o["N_rows_checked"]) != checked:
            probs.append(f"{name}: N_rows_checked {o['N_rows_checked']} != {checked}")
        if int(o["N_Fields"]) != len(r["columns"]):
            probs.append(f"{name}: N_Fields {o['N_Fields']} != {len(r['columns'])}")
        summary = _dicts(sheets.get(f"File{i}_Summary", []))
        if [s["Column"] for s in summary] != r["columns"]:
            probs.append(f"{name}: summary columns differ")
            continue
        types = {}
        for s in summary:
            if s["DataType"] not in KNOWN_TYPES:
                probs.append(f"{name}.{s['Column']}: unknown DataType {s['DataType']}")
                continue
            probs += _check_column(name, s, r["stat"](s["Column"], s["DataType"]),
                                   checked, capped, cfg)
            types[s["Column"]] = s["DataType"]
        probs += _check_freq(name, _dicts(sheets.get(f"File{i}_Freq", [])),
                             r, types, capped, cfg)
    return probs


def _check_column(name, s, st, checked, capped, cfg):
    probs = []
    col, dtype = s["Column"], s["DataType"]
    where = f"{name}.{col}"
    total, nn = int(s["TotalCount"]), int(s["NonMissingCount"])
    miss, empty, distinct = (int(s["MissingCount"]), int(s["EmptyCount"]),
                             int(s["DistinctCount"]))
    if total != checked:
        probs.append(f"{where}: TotalCount {total} != {checked}")
    if nn + miss + empty != total:
        probs.append(f"{where}: counts do not add up to TotalCount")
    shifted = dtype in DATE_TYPES and cfg["shift_dates"]
    if capped:
        if nn > st["non_missing"] or distinct > st["distinct"]:
            probs.append(f"{where}: sample counts exceed the full data's")
    else:
        if nn != st["non_missing"]:
            probs.append(f"{where}: NonMissingCount {nn} != {st['non_missing']}")
        if not shifted and distinct != st["distinct"]:
            probs.append(f"{where}: DistinctCount {distinct} != {st['distinct']}")
    if dtype == "numeric" and nn > 0:
        mn, mx = _f(s["MinVal"]), _f(s["MaxVal"])
        if capped:
            if mn < st["min"] - REL or mx > st["max"] + REL:
                probs.append(f"{where}: sample min/max outside the data's range")
        elif not (_close(mn, st["min"]) and _close(mx, st["max"])):
            probs.append(f"{where}: min/max {mn}/{mx} != {st['min']}/{st['max']}")
    if dtype in DATE_TYPES and nn > 0:
        fmt = "%Y-%m-%d %H:%M:%S"
        lo = dt.datetime.strptime(s["EarliestVal"], fmt)
        hi = dt.datetime.strptime(s["LatestVal"], fmt)
        slack = dt.timedelta(days=SHIFT_DAYS if shifted else 0, seconds=1)
        tmin, tmax = st["min"], st["max"]
        if capped:
            if lo < tmin - slack or hi > tmax + slack:
                probs.append(f"{where}: sample dates outside the data's range")
        elif abs(lo - tmin) > slack or abs(hi - tmax) > slack:
            probs.append(f"{where}: earliest/latest {lo}/{hi} vs {tmin}/{tmax}")
    return probs


def _check_freq(name, freq, r, types, capped, cfg):
    probs = []
    by_col = {}
    for f in freq:
        by_col.setdefault(f["Column"], []).append(f)
    for col, dtype in types.items():
        rows = by_col.pop(col, [])
        if dtype in DATE_TYPES:
            if rows:
                probs.append(f"{name}.{col}: date column has a frequency table")
            continue
        hist = r["stat"](col, dtype)["hist"]
        got = {}
        for f in rows:
            v = float(f["Value"]) if dtype == "numeric" else f["Value"]
            got[v] = int(f["Count"])
        if any(k < cfg["min_cell_count"] for k in got.values()):
            probs.append(f"{name}.{col}: count below min_cell_count")
        if len(rows) > cfg["max_distinct"]:
            probs.append(f"{name}.{col}: more than maxDistinctValues rows")
        if rows:
            pct = sum(float(f["Percentage"]) for f in rows)
            if not _close(pct, 1.0, 1e-6):
                probs.append(f"{name}.{col}: percentages sum to {pct}")
        if capped:
            bad = [v for v, k in got.items() if k > hist.get(v, 0)]
            if bad:
                probs.append(f"{name}.{col}: sample counts exceed the data's for {bad[:3]}")
            continue
        eligible = {v: k for v, k in hist.items() if k >= cfg["min_cell_count"]}
        want = min(cfg["max_distinct"], len(eligible))
        if len(got) != want:
            probs.append(f"{name}.{col}: {len(got)} frequency rows, expected {want}")
        bad = [v for v, k in got.items() if eligible.get(v) != k]
        if bad:
            probs.append(f"{name}.{col}: counts differ from DuckDB for {bad[:3]}")
        left_out = [k for v, k in eligible.items() if v not in got]
        if got and left_out and max(left_out) > min(got.values()):
            probs.append(f"{name}.{col}: frequency table is not the top values")
    for col in by_col:
        probs.append(f"{name}: frequency rows for unknown column {col}")
    return probs


# ------------------------------------------------------------ curation

def shingles(text, n=3):
    """Distinct n-word shingles of the lowercased space-split text (the
    set Dedup.minhashPairs verifies Jaccard on)."""
    toks = text.lower().split(" ")
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def reference_llm(data_dir):
    import numpy as np
    import pyarrow.parquet as pq
    docs = pq.read_table(os.path.join(data_dir, "docs.parquet")).to_pydict()
    vecs = pq.read_table(os.path.join(data_dir, "vecs.parquet")).to_pydict()
    ids = np.array(vecs["vec_id"])
    m = np.array(vecs["embedding"], dtype=np.float64)
    m = m[np.argsort(ids)]
    return {"texts": dict(zip(docs["doc_id"], docs["text"])), "vecs": m}


def exact_knn(vecs, num_queries, k):
    """Brute-force cosine top-k of queries 0..num_queries-1, self excluded."""
    import numpy as np
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = unit[:num_queries] @ unit.T
    sims[np.arange(num_queries), np.arange(num_queries)] = -np.inf
    return {q: set(np.argsort(-sims[q], kind="stable")[:k].tolist())
            for q in range(num_queries)}


def _read_tsv(path):
    with open(path, encoding="utf-8") as f:
        rows = [line.rstrip("\n").split("\t") for line in f]
    return rows[1:]


def check_llm(out_dir, ref, num_queries, k):
    """(problems, digest, recall@k, pairs) for one curation iteration."""
    probs = []
    pairs = _read_tsv(os.path.join(out_dir, "pairs.tsv"))
    seen = set()
    shingle_sets = {}

    def sh(i):
        if i not in shingle_sets:
            shingle_sets[i] = shingles(ref["texts"][i])
        return shingle_sets[i]

    for a, b, jac in pairs:
        a, b = int(a), int(b)
        if a >= b or (a, b) in seen:
            probs.append(f"pair ({a}, {b}) not ordered/unique")
        seen.add((a, b))
        sa, sb = sh(a), sh(b)
        exact = round(len(sa & sb) / len(sa | sb), 6)
        if exact < 0.7 or abs(exact - float(jac)) > 1e-6:
            probs.append(f"pair ({a}, {b}): exact Jaccard {exact}, reported {jac}")

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in seen:
        parent[find(a)] = find(b)
    clusters = {int(d): int(rep) for d, rep in
                _read_tsv(os.path.join(out_dir, "clusters.tsv"))}
    if set(clusters) != set(parent):
        probs.append("clusters do not cover exactly the paired documents")
    else:
        comp = {}
        for d in clusters:
            comp.setdefault(find(d), set()).add(clusters[d])
        if any(len(reps) != 1 for reps in comp.values()) or \
                len({next(iter(r)) for r in comp.values()}) != len(comp):
            probs.append("clusters differ from the pairs' connected components")

    knn = {}
    for q, rn, nb in _read_tsv(os.path.join(out_dir, "knn.tsv")):
        knn.setdefault(int(q), []).append((int(rn), int(nb)))
    exact = exact_knn(ref["vecs"], num_queries, k)
    hits = 0
    for q in range(num_queries):
        got = sorted(knn.get(q, []))
        if [rn for rn, _ in got] != list(range(1, k + 1)) or \
                any(nb == q for _, nb in got):
            probs.append(f"query {q}: malformed top-{k}")
        hits += len({nb for _, nb in got} & exact[q])
    recall = hits / (num_queries * k)
    if recall < RECALL_FLOOR:
        probs.append(f"recall@{k} {recall:.3f} below floor {RECALL_FLOOR}")

    h = hashlib.sha256()
    for name in ("pairs.tsv", "clusters.tsv", "knn.tsv"):
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(b"".join(sorted(f.readlines())))  # row order is free
    return probs, h.hexdigest(), recall, len(pairs)
