"""Output checks, run after the JVM has exited (untimed).

Each check returns a list of (name, ok, detail); the doc chain's and
stream_ingest's also return the ratio their layer metric needs. A wrong
output counts in the run's `failed`.
"""
import math
import os

import duckdb

from gen import TABLES


def _canon(df):
    cols = sorted(df.columns)

    def norm(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return str(v)
    return cols, sorted(tuple(norm(v) for v in r) for r in df[cols].values.tolist())


def lake_queries(work, record):
    """Every lake query's full output against its DuckDB oracle (SparkEntry.oracleSql)
    over the same permuted lake: columns, row count and sorted values."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/lake/{t}.parquet')")
    oracle = record["extra"]["oracle_sql"]
    out = []
    for q in record["extra"]["lake_queries"]:
        path = f"{work}/out/{q}"
        if not os.path.isdir(path):
            out.append((q, False, "no output"))
            continue
        got = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
        if q not in oracle:
            out.append((q, len(got) > 0, f"rows-only {len(got)}"))
            continue
        want = con.sql(oracle[q]).df()
        (gc, gr), (wc, wr) = _canon(got), _canon(want)
        ok = gc == wc and gr == wr
        out.append((q, ok, f"{len(gr)} rows" if ok else
                    f"spark {gc} {len(gr)} rows vs oracle {wc} {len(wr)} rows"))
    return out


def _cents(x):
    return None if x is None else round(x * 100)


def doc_chain(work, truth, record):
    """The published tables and the analytics against the generator's truth;
    also returns the item yield (published item rows / generated items)."""
    con = duckdb.connect()
    inv = con.sql(f"SELECT * FROM read_parquet('{work}/published/invoices/*.parquet')").df()
    nc = con.sql(f"SELECT doc_type, count(*) AS n FROM "
                 f"read_parquet('{work}/published/nc_docs/*.parquet') GROUP BY doc_type").fetchall()
    invoices = truth["invoices"]
    out = [("item_rows", len(inv) == truth["n_items"], f"{len(inv)} of {truth['n_items']}")]

    want_items = sorted((i["file"], d, q, _cents(p), _cents(t))
                        for i in invoices for d, q, p, t in i["items"])
    got_items = sorted((r.file, r.description, r.qty, _cents(r.price), _cents(r.total))
                       for r in inv.itertuples())
    out.append(("items", got_items == want_items, ""))

    meta_cols = ["file", "supplier_name", "supplier_tin", "invoice_number",
                 "invoice_date", "due_date", "tax_label", "total_amount"]

    def meta(r):
        return tuple(_cents(v) if k == "total_amount" else
                     (str(v)[:10] if k.endswith("_date") and v is not None else v)
                     for k, v in zip(meta_cols, r))
    want_meta = sorted(meta([i[k] for k in meta_cols]) for i in invoices)
    got_meta = sorted(set(meta(r) for r in inv[meta_cols].itertuples(index=False)))
    bad = [w for w, g in zip(want_meta, got_meta) if w != g]
    out.append(("metadata", got_meta == want_meta,
                f"{len(bad)} differ, e.g. {bad[:1]}" if bad else ""))

    per_supplier = {}
    for i in invoices:
        per_supplier[i["supplier_name"]] = per_supplier.get(i["supplier_name"], 0) + \
            _cents(i["total_amount"]) * len(i["items"])
    got_sup = {}
    for r in inv.itertuples():
        got_sup[r.supplier_name] = got_sup.get(r.supplier_name, 0) + _cents(r.total_amount)
    out.append(("supplier_totals", got_sup == per_supplier, ""))
    out.append(("nc_rows_per_type", dict(nc) == truth["nc_rows"], str(dict(nc))))

    ex = record["extra"]
    out.append(("a_docs_processed", len(ex.get("a_docs_processed", [])) == len(invoices), ""))
    top = sorted(per_supplier.items(), key=lambda kv: -kv[1])[:5]
    got_top = [(s, round(v * 100)) for s, v in ex.get("a_top_suppliers", [])]
    out.append(("a_top_suppliers", got_top == top, ""))
    want_tv = sorted((i["invoice_number"], _cents(i["total_amount"])) for i in invoices)
    got_tv = sorted((k, _cents(v)) for k, v in ex.get("a_total_value", []))
    out.append(("a_total_value", got_tv == want_tv, ""))
    counts = {}
    for i in invoices:
        for d, *_ in i["items"]:
            counts[d] = counts.get(d, 0) + 1
    got_cp = ex.get("a_common_products", [])
    out.append(("a_common_products",
                [n for _, n in got_cp] == sorted(counts.values(), reverse=True)[:5]
                and all(counts.get(d) == n for d, n in got_cp), ""))
    months = {}
    for i in invoices:
        m = i["invoice_date"][:7]
        months[m] = months.get(m, 0) + _cents(i["total_amount"]) * len(i["items"])
    got_mt = [_cents(v) for _, v in ex.get("a_monthly_trend", [])]
    out.append(("a_monthly_trend", got_mt == [months[m] for m in sorted(months)], ""))
    return out, len(inv) / truth["n_items"]


def stream_ingest(work, labels, record):
    """The gate's exact-dup flags against the delivery labels, the cluster
    labeling's row count, and the folded event grains' total; also
    returns the gate's admitted share (delivered docs not exact dups)."""
    con = duckdb.connect()
    gate = con.sql(f"SELECT doc_id, exact_dup FROM read_parquet('{work}/gate/*/*.parquet')").fetchall()
    want = {int(k): v == "exact" for k, v in labels["labels"].items()}
    got = {}
    for doc_id, dup in gate:
        got.setdefault(doc_id, []).append(dup)
    once = all(len(v) == 1 for v in got.values()) and set(got) == set(want)
    flags = once and all(got[d][0] == want[d] for d in want)
    n_lab = con.sql(f"SELECT count(*) FROM read_parquet('{work}/store/clusters/labels/*/*.parquet')").fetchone()[0]
    n_want = labels["n_lake_docs"] + len(want)
    n_events = con.sql(f"SELECT sum(n) FROM read_parquet('{work}/volume/*/*.parquet')").fetchone()[0]
    n_events_want = con.sql(
        f"SELECT count(*) FROM read_parquet('{work}/in_events/*.parquet')").fetchone()[0]
    admitted = sum(1 for v in got.values() if not v[0])
    return [("gate_rows_once", once, f"{len(gate)} rows for {len(want)} docs"),
            ("exact_dup_flags", flags, ""),
            ("cluster_label_rows", n_lab == n_want, f"{n_lab} of {n_want}"),
            ("event_grains", n_events == n_events_want, f"{n_events} of {n_events_want}")], \
        admitted / max(len(want), 1)
