"""Output checks, run after the JVM has exited (outside every timed region).

``check`` returns one verdict per op id, ``{"ok": bool, "why": str}``, plus
facts the metrics need (pair counts, executed rounds, rows returned):

- warehouse, analytics ops: each op's output against a DuckDB query over the same parquet
  with the same seeded parameters, rows compared after ``normalize_rows``;
  a sample is checked as a subset of that query with the right size;
- operators, dedup ops: exact ops must return exactly the planted pairs above threshold;
  the LSH op may miss pairs, but only planted pairs may appear and identical
  documents must pair; its pair-set digest goes to ``run.py``, which
  compares it across runs with one seed;
- operators, graph ops: invariants (PageRank mass conservation, k-core
  degrees) and a replay of the synchronous k-core peeling;
- warehouse, ingest ops: row counts, key sums and price sums of every
  committed version and every read against a replay of the batches.
"""
import datetime as dt
import decimal
import glob
import hashlib
import math
import os
from collections import Counter, defaultdict

import duckdb
import numpy as np


def tree_digest(d):
    """sha256 over every file under ``d`` (relative path and bytes)."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            h.update(os.path.relpath(path, d).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


# ------------------------------------------------------------ normalisation

def normalize_value(v):
    """One engine-neutral form per value: numbers become floats rounded to
    9 significant digits, dates ISO strings, NaN and None both None."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        f = float(v)
        if math.isnan(f):
            return None
        return float(f"{f:.9g}")
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize_value(x) for x in v)
    return str(v)


def _sort_key(row):
    return tuple((x is None, "" if x is None else (x if isinstance(x, str) else f"{x!r:>40}"))
                 for x in row)


def normalize_rows(columns, rows):
    """Columns sorted by name, values normalised, rows sorted: two engines'
    results of one query compare equal after this whatever their column
    order, row order, decimal scale or float rounding."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(normalize_value(r[i]) for i in order) for r in rows]
    return [columns[i] for i in order], sorted(out, key=_sort_key)


def digest(columns, rows):
    cols, norm = normalize_rows(columns, rows)
    return hashlib.sha256(repr((cols, norm)).encode()).hexdigest()


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6)
    return a == b


def _exact(x):
    return not isinstance(x, float) or x == int(x)


def same_rows(a_cols, a_rows, b_cols, b_rows):
    """Equal up to normalisation, allowing float rounding past 6 digits.

    Rows are paired by sorting on the columns whose values are exact on both
    sides (strings, integers, integral numbers) before the others, so that
    two engines' roundings of one average cannot pair rows differently.
    """
    ac, an = normalize_rows(a_cols, a_rows)
    bc, bn = normalize_rows(b_cols, b_rows)
    if ac != bc:
        return False, f"columns {ac} != {bc}"
    if len(an) != len(bn):
        return False, f"{len(an)} rows != {len(bn)} expected"
    exact = [i for i in range(len(ac)) if all(_exact(r[i]) for r in an + bn)]
    rest = [i for i in range(len(ac)) if i not in exact]

    def key(r):
        return _sort_key([r[i] for i in exact] + [r[i] for i in rest])

    for x, y in zip(sorted(an, key=key), sorted(bn, key=key)):
        if not all(_close(p, q) for p, q in zip(x, y)):
            return False, f"row {x} != {y}"
    return True, ""


# ------------------------------------------------------------------ helpers

def _read(con, path):
    """(columns, rows) of a parquet directory written by Spark."""
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        return None
    rel = con.execute(f"SELECT * FROM read_parquet({files!r})")
    return [d[0] for d in rel.description], rel.fetchall()


def _query(con, sql):
    rel = con.execute(sql)
    return [d[0] for d in rel.description], rel.fetchall()


def _ok(why=""):
    return {"ok": not why, "why": why}


# ---------------------------------------------------------------- analytics

def _check_analytics(con, in_dir, manifest, facts):
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{in_dir}/tables/{t}.parquet')")
    out = {}
    for op in manifest["ops"]:
        got = _read(con, f"{in_dir}/out/{op['id']}")
        if got is None:
            out[op["id"]] = _ok("no output")
            continue
        facts.setdefault("rows_returned", {})[op["id"]] = len(got[1])
        want = _query(con, op["oracle"])
        if op["template"].startswith("sample"):
            out[op["id"]] = _ok(_sample_problem(op, got, want))
        else:
            ok, why = same_rows(*got, *want)
            out[op["id"]] = _ok("" if ok else why)
    return out


def _sample_problem(op, got, want):
    cols, rows = normalize_rows(*got)
    wcols, wrows = normalize_rows(*want)
    if cols != wcols:
        return f"columns {cols} != {wcols}"
    extra = Counter(rows) - Counter(wrows)
    if extra:
        return f"{sum(extra.values())} sampled rows are not in the source"
    if len(rows) != min(op["n"], len(wrows)):
        return f"sample(n={op['n']}) returned {len(rows)} rows"
    return ""


# -------------------------------------------------------------------- dedup

def _word_grams(text, n=3):
    toks = text.strip(" ").split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _pairs(con, path, a="id_a", b="id_b"):
    got = _read(con, path)
    if got is None:
        return None
    cols, rows = got
    ia, ib = cols.index(a), cols.index(b)
    return cols, rows, {(r[ia], r[ib]) for r in rows}


def _check_dedup(con, in_dir, manifest, facts):
    docs = con.execute(f"SELECT doc_id, grp, text FROM "
                       f"read_parquet('{in_dir}/tables/docs.parquet')").fetchall()
    groups = defaultdict(list)
    for d in docs:
        groups[d[1]].append(d)
    word = {d[0]: _word_grams(d[2]) for d in docs}
    planted, jacc_pairs, same_set = set(), set(), set()
    for members in groups.values():
        for i, x in enumerate(members):
            for y in members[i + 1:]:
                a, b = sorted((x[0], y[0]))
                planted.add((a, b))
                wa, wb = word[a], word[b]
                if wa and wb:
                    inter = len(wa & wb)
                    if inter / (len(wa) + len(wb) - inter) >= 0.5:
                        jacc_pairs.add((a, b))
                    if wa == wb:
                        same_set.add((a, b))
    out = {}
    pairs_out = 0
    for op in ["minhash_lsh", "ngram_jaccard"]:
        got = _pairs(con, f"{in_dir}/out/{op}")
        if got is None:
            out[op] = _ok("no output")
            continue
        cols, rows, ps = got
        pairs_out += len(rows)
        if len(ps) != len(rows):
            why = "duplicate pairs"
        elif op == "ngram_jaccard":
            why = "" if ps == jacc_pairs else \
                f"{len(ps - jacc_pairs)} extra, {len(jacc_pairs - ps)} missing of {len(jacc_pairs)}"
        elif not ps <= planted:
            why = f"{len(ps - planted)} pairs outside the planted groups"
        elif not same_set <= ps:
            why = f"{len(same_set - ps)} identical-document pairs missing"
        else:
            why = ""
        out[op] = _ok(why)
    facts["pairs_out"] = pairs_out
    facts["digests"] = {op: digest(*_read(con, f"{in_dir}/out/{op}"))
                        for op in ["minhash_lsh"] if out[op]["ok"]}

    return out


# -------------------------------------------------------------------- graph

def _check_graph(con, in_dir, m, facts):
    src, dst = map(np.array, zip(*con.execute(
        f"SELECT src, dst FROM read_parquet('{in_dir}/tables/edges.parquet')").fetchall()))
    nodes = set(src.tolist()) | set(dst.tolist())
    n, e = len(nodes), len(src)

    def table(op):
        got = _read(con, f"{in_dir}/out/{op}")
        return None if got is None else (got[0], got[1])

    out, rounds = {}, {}
    scale, damp = 10**9, 85
    it = m["rank_iters"]
    # no node dangles (the edges are symmetric), so rank mass is conserved
    # up to one floor division per edge and two per node in every round
    got = table("page_rank")
    rounds["page_rank"] = it
    if got is None:
        out["page_rank"] = _ok("no output")
    else:
        ranks = dict(got[1])
        mass = sum(ranks.values())
        low = n * scale - it * (e + 2 * n)
        why = ""
        if set(ranks) != nodes:
            why = f"{len(ranks)} ranked nodes, graph has {n}"
        elif not low <= mass <= n * scale:
            why = f"rank mass {mass} outside [{low}, {n * scale}]"
        elif min(ranks.values()) < (100 - damp) * scale // 100:
            why = "a rank is below the teleport base"
        out["page_rank"] = _ok(why)

    # k-core: synchronous peeling, replayed for as many rounds as the
    # operator may run; once converged every member keeps degree >= k
    k = m["kcore_k"]
    und = {(min(u, v), max(u, v)) for u, v in zip(src.tolist(), dst.tolist()) if u != v}
    alive, last, r, converged = und, -1, 0, False
    while r < m["kcore_max_iters"] and not converged:
        deg = Counter()
        for u, v in alive:
            deg[u] += 1
            deg[v] += 1
        alive = {(u, v) for u, v in alive if deg[u] >= k and deg[v] >= k}
        r += 1
        converged = 2 * len(alive) == last
        last = 2 * len(alive)
    rounds["k_core"] = r
    core_deg = Counter()
    for u, v in alive:
        core_deg[u] += 1
        core_deg[v] += 1
    got = table("k_core")
    if got is None:
        out["k_core"] = _ok("no output")
    else:
        core = dict(got[1])
        why = ""
        if converged and any(d < k for d in core.values()):
            why = "a member has degree < k inside the core"
        elif core != dict(core_deg):
            why = "members or degrees differ from the peeling replay"
        out["k_core"] = _ok(why)

    facts["rounds"] = rounds
    facts["edges"] = e
    return out


# ------------------------------------------------------------------- ingest

def _cents(s):
    return int(decimal.Decimal(str(s)) * 100)


def _check_ingest(con, in_dir, m, result, facts):
    def orders(path):
        return {k: _cents(p) for k, p in con.execute(
            f"SELECT o_orderkey, o_totalprice FROM read_parquet('{path}')").fetchall()}

    cur = orders(f"{in_dir}/tables/orders.parquet")
    versions = {1: cur}
    log = []
    batches = {}
    out = {}
    rows_written = {}
    # ingest op ids are "b<batch>.<kind>"; analytics ids have no dot
    recs = sorted((r for r in result["ops"] if "." in r["op"]), key=lambda r: r["start_ns"])
    for rec in recs:
        op = rec["op"]
        b, kind = op.split(".")
        b = int(b[1:])
        meta = m["batches"][b]
        if b not in batches:
            batches[b] = orders(f"{in_dir}/batches/{meta['table']}.parquet")
        batch = batches[b]
        lo, hi = meta["key_lo"], meta["key_hi"]
        obs = rec.get("observed") or {}
        want = {}
        if rec["error"] is None:
            if kind == "append":
                log.extend(batch.items())
                want = {"rows": len(log), "key_sum": sum(k for k, _ in log),
                        "price_sum": sum(p for _, p in log)}
                rows_written[id(rec)] = len(batch)
            elif kind == "upsert":
                cur = dict(cur)
                cur.update(batch)
                v = max(versions) + 1
                versions[v] = cur
                want = {"rows": len(cur), "key_sum": sum(cur), "price_sum": sum(cur.values()),
                        "version": v}
                rows_written[id(rec)] = len(cur)
            elif kind == "read_log":
                want = {"rows": sum(1 for k, _ in log if lo <= k <= hi)}
            elif kind == "read_cur":
                want = {"rows": sum(1 for k in cur if lo <= k <= hi)}
            elif kind == "read_version":
                prev = versions[max(versions) - 1]
                want = {"rows": sum(1 for k in prev if lo <= k <= hi)}
            elif kind == "compact":
                want = {"rows": len(log), "key_sum": sum(k for k, _ in log),
                        "price_sum": sum(p for _, p in log)}
                rows_written[id(rec)] = len(log)
            elif kind == "vacuum":
                last = max(versions)
                want = {"versions": list(range(max(1, last - m["vacuum_keep"] + 1), last + 1))}
        got = {k: (_cents(v) if k == "price_sum" else v) for k, v in obs.items() if k in want}
        why = rec["error"] or ("" if got == want else f"observed {got}, expected {want}")
        rec_key = f"{op}@{rec['pass']}"
        out[rec_key] = _ok(why)
    facts["rows_written"] = {f"{r['op']}@{r['pass']}": rows_written.get(id(r), 0) for r in recs}
    return out


# --------------------------------------------------------------------- main

def check(workload, in_dir, manifest, result):
    """Verdicts keyed by op id (ingest: by ``op@pass``, every execution is
    checked), and facts for the metrics."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    facts = {}
    if workload == "warehouse":
        verdicts = {**_check_analytics(con, in_dir, manifest, facts),
                    **_check_ingest(con, in_dir, manifest, result, facts)}
    else:
        verdicts = {**_check_dedup(con, in_dir, manifest, facts),
                    **_check_graph(con, in_dir, manifest, facts)}
    con.close()
    return {"ops": verdicts, "facts": facts}
