"""Seeded input generators for the benchmark.

A seed changes the bytes of the inputs, never the amount of work: every
count below (rows per table, invoices, items, NC documents per type,
documents per delivery class, events per delivery) is a constant, and
the seed only decides which values, which order and which assignment.

    lake(src, dst, seed)        the shipped sf0.01 lake, rows permuted per table
    doc_tree(root, seed)        raw invoice + NC text files, returns the truth
    deliveries(root, lake, seed) stream_ingest deliveries, returns the labels
"""
import datetime
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rng(seed, tag):
    return random.Random(f"{seed}:{tag}")


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------- lake

def lake(src, dst, seed):
    """Copy every table of the shipped lake with its rows permuted."""
    for t in TABLES:
        tab = pq.read_table(os.path.join(src, f"{t}.parquet"))
        perm = list(range(tab.num_rows))
        _rng(seed, f"lake/{t}").shuffle(perm)
        _write(tab.take(perm), os.path.join(dst, f"{t}.parquet"))


# ------------------------------------------------------------ doc tree

N_INVOICES = 240
ITEMS_PER_INVOICE = [2, 3, 4, 5, 6]  # cycled: the total item count is fixed
DATE_LAYOUTS = ["MMM d, yyyy", "yyyy-MM-dd", "dd-MM-yyyy", "M/d/yyyy"]
NC_DOCS_PER_TYPE = 8
# rows each NC document parses to (fixed by the templates below)
NC_ROWS_PER_DOC = {"nc_item_c": 3, "nc_invitation_to_bid": 1,
                   "nc_award_letter": 1, "nc_bids_as_read": 3,
                   "nc_bid_tabs": 10}

SUPPLIERS = [
    ("ACME SUPPLIES SDN BHD", "12 Jalan Besar"),
    ("PYEDRAIN TRADING", "8 Harbour Road"),
    ("NORTHWIND OFFICE CO", "41 Mill Lane"),
    ("BLUE RIVER HARDWARE", "7 Quay Street"),
    ("SUNRISE PAPER WORKS", "90 Orchard Way"),
    ("GOLDEN KEY LOGISTICS", "3 Station Square"),
    ("KESTREL ELECTRONICS", "55 Canal Street"),
    ("MAPLE LEAF STATIONERY", "19 King Street"),
    ("ORION LAB SUPPLY", "66 Market Row"),
    ("SILVERLINE FURNISHING", "24 Bridge End"),
    ("TERRACE FOOD SERVICES", "2 Park Avenue"),
    ("WILLOW PRINT HOUSE", "14 Abbey Close"),
]
PRODUCTS = ["Graphic Tablet", "Cable Pack", "Office Chair", "Desk Lamp",
            "Paper Ream", "Toner Cartridge", "USB Hub", "Monitor Stand",
            "Label Maker", "Wireless Mouse", "Filing Cabinet", "Whiteboard",
            "Stapler Set", "Binder Clips", "Laptop Sleeve", "Ink Bottle"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec"]


def _fmt_date(d, layout):
    if layout == "MMM d, yyyy":
        return f"{MONTHS[d.month - 1]} {d.day}, {d.year}"
    if layout == "yyyy-MM-dd":
        return d.isoformat()
    if layout == "dd-MM-yyyy":
        return f"{d.day:02d}-{d.month:02d}-{d.year}"
    return f"{d.month}/{d.day}/{d.year}"


def _spread(rng, values, n):
    """`n` values cycled over `values`, shuffled: exact count per value."""
    out = [values[i % len(values)] for i in range(n)]
    rng.shuffle(out)
    return out


def _invoices(root, seed):
    rng = _rng(seed, "invoices")
    layouts = _spread(rng, DATE_LAYOUTS, N_INVOICES)
    n_items = _spread(rng, ITEMS_PER_INVOICE, N_INVOICES)
    suppliers = _spread(rng, list(range(len(SUPPLIERS))), N_INVOICES)
    inv_nos = rng.sample(range(100000, 999999), N_INVOICES)
    truth = []
    for i in range(N_INVOICES):
        name, addr = SUPPLIERS[suppliers[i]]
        tin = str(100000000 + suppliers[i] * 7919)
        d = datetime.date(2018, 1, 1) + datetime.timedelta(days=rng.randrange(700))
        due = d + datetime.timedelta(days=30)
        rate = rng.choice([5, 6, 8, 10])
        items, sub_cents = [], 0
        for k in range(n_items[i]):
            qty = rng.randint(1, 9)
            price_cents = rng.randint(100, 99999)
            sub_cents += qty * price_cents
            items.append((rng.choice(PRODUCTS), qty, price_cents,
                          qty * price_cents))
        grand_cents = sub_cents + (sub_cents * rate) // 100
        lines = [name, addr, f"TIN: {tin}", f"TAX INVOICE #{inv_nos[i]}",
                 f"Invoice Date: {_fmt_date(d, layouts[i])}",
                 f"Due Date: {due.isoformat()}",
                 "ID DESCRIPTION QTY PRICE TOTAL"]
        lines += [f"{k + 1}. {desc} - {qty}.0 {p // 100}.{p % 100:02d} "
                  f"{t // 100}.{t % 100:02d}"
                  for k, (desc, qty, p, t) in enumerate(items)]
        lines += [f"Sub Total {sub_cents // 100}.{sub_cents % 100:02d}",
                  f"GST {rate}%",
                  f"TOTAL {grand_cents // 100}.{grand_cents % 100:02d}"]
        fname = f"invoice_{inv_nos[i]}.txt"
        path = os.path.join(root, "invoices", f"{d.year}", f"{d.month:02d}", fname)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        truth.append({
            "file": fname, "supplier_name": f"{name} {addr}",
            "supplier_tin": tin, "invoice_number": str(inv_nos[i]),
            "invoice_date": d.isoformat(), "due_date": due.isoformat(),
            "tax_label": float(rate), "total_amount": grand_cents / 100,
            "layout": layouts[i],
            "items": [[desc, float(qty), p / 100, t / 100]
                      for desc, qty, p, t in items]})
    return truth


NC_VENDORS = ["BLYTHE CONSTRUCTION, INC.", "S T WOOTEN CORPORATION",
              "BARNHILL CONTRACTING CO", "FSC II LLC", "RILEY PAVING INC",
              "CAROLINA BRIDGE COMPANY", "TRIANGLE GRADING AND PAVING LLC"]
NC_COUNTIES = ["Craven", "Pasquotank", "Wake", "Johnston", "Durham",
               "Pitt", "Onslow", "Guilford"]
NC_WORK = ["Grading, Drainage and Paving", "Bridge Rehabilitation",
           "Milling and Resurfacing", "Shoulder Reconstruction",
           "Culvert Replacement", "Pavement Markings"]
NC_ITEMS = ["MOBILIZATION", "ASPHALT CONCRETE", "CLEARING AND GRUBBING",
            "UNCLASSIFIED EXCAVATION", "AGGREGATE BASE COURSE",
            "CONCRETE CURB", "EROSION CONTROL", "TRAFFIC CONTROL"]
NC_MONTHS = ["JANUARY", "FEBRUARY", "MARCH", "APRIL", "MAY", "JUNE", "JULY",
             "AUGUST", "SEPTEMBER", "OCTOBER", "NOVEMBER", "DECEMBER"]


def _money(cents):
    return f"{cents // 100:,}.{cents % 100:02d}"


def _nc_doc(kind, rng, n):
    d = datetime.date(2023, 1, 1) + datetime.timedelta(days=rng.randrange(360))
    cid = f"DA{rng.randrange(10000, 99990):05d}"
    v = rng.sample(NC_VENDORS, 3)
    cty = rng.sample(NC_COUNTIES, 2)
    head = ["STATE OF NORTH CAROLINA", "DEPARTMENT OF TRANSPORTATION"]
    upper_date = f"{NC_MONTHS[d.month - 1]} {d.day}, {d.year}"
    if kind == "nc_item_c":
        fin = d + datetime.timedelta(days=400)
        fin_s = f"{NC_MONTHS[fin.month - 1]} {fin.day}, {fin.year}"
        lines = head + [f"LETTING OF {upper_date}"]
        for b, bidders in enumerate([v[:2], v[2:]]):
            est = rng.randrange(10 ** 7, 10 ** 9)
            lines += [f"DA{int(cid[2:]) + b:05d}", f"FED AID NO: BRZ-{rng.randrange(1000, 9999)}",
                      cty[b], f"TYPE OF WORK {rng.choice(NC_WORK)}",
                      f"LOCATION NC {rng.randrange(10, 99)} Bridge {rng.randrange(1, 99)}",
                      f"ESTIMATE {_money(est)}", f"FINAL COMPLETION {fin_s}", "$ TOTALS"]
            lines += [f"{name} {_money(rng.randrange(10 ** 7, 10 ** 9))}" for name in bidders]
            lines.append(f"ESTIMATE TOTAL {_money(est)}")
        return f"L{n:06d}A_Item C Report.txt", lines
    if kind == "nc_invitation_to_bid":
        comp = d + datetime.timedelta(days=180)
        lines = head + ["Division One:", "NOTICE TO PROSPECTIVE BIDDERS",
                        "Requesting bids for the following project",
                        f"{rng.randrange(10 ** 7, 10 ** 8)} - {rng.choice(NC_WORK)}",
                        f"The Completion Date for this Contract is "
                        f"{NC_MONTHS[comp.month - 1].capitalize()} {comp.day}, {comp.year}",
                        f"Bid Opening will be held on {upper_date}"]
        return f"{cid} Invitation to Bid.txt", lines
    if kind == "nc_award_letter":
        lines = head + ["NOTIFICATION OF AWARD", f"Contract No. {cid}",
                        "Federal Aid No.: STATE FUNDED", f"County: {cty[0]}",
                        f"Description: {rng.choice(NC_WORK)}",
                        f"We are pleased to inform you that {v[0]}",
                        "has been awarded this contract based on the bid submitted on",
                        f"{NC_MONTHS[d.month - 1].capitalize()} {d.day}, {d.year} "
                        f"in the amount of ${_money(rng.randrange(10 ** 7, 10 ** 9))}"]
        return f"{cid} Award Letter.txt", lines
    if kind == "nc_bids_as_read":
        lines = head + ["CONTRACT BIDS AS READ", "Bid Opening",
                        f"{d.month}/{d.day}/{d.year}", "Time: 2:00 PM",
                        f"Contract: {rng.randrange(10 ** 7, 10 ** 8):08d}",
                        f"Description: {rng.choice(NC_WORK)}",
                        "and associated drainage work", "CONTRACTOR AMOUNT BID"]
        lines += [f"{name} ${_money(rng.randrange(10 ** 7, 10 ** 9))}" for name in v[:2]]
        lines += [f"ENGINEERS ESTIMATE ${_money(rng.randrange(10 ** 7, 10 ** 9))}",
                  "TOTAL BIDS RECEIVED: (2)"]
        return f"L{n:06d} Bids As Read.txt", lines
    # nc_bid_tabs: 5 item lines x 2 bidders
    lines = head + [f"{MONTHS[d.month - 1]} {d.day:02d}, {d.year} 2:30 PM", cid,
                    f"Call Number {rng.randrange(1, 999):03d}",
                    "FED AID NO: STATE FUNDED", rng.choice(NC_WORK),
                    f"US {rng.randrange(10, 99)} {cty[0]} County",
                    f"{cty[0]}, {cty[1]}", v[0], v[1], "ROADWAY ITEMS"]
    for k in range(5):
        qty = rng.randrange(100, 500000)
        p1, p2 = rng.randrange(100, 10 ** 6), rng.randrange(100, 10 ** 6)
        lines.append(f"{k + 1:04d} {rng.randrange(10 ** 9, 10 ** 10):010d}-N S1 "
                     f"{rng.choice(NC_ITEMS)} {qty:,} SY ${_money(p1)} "
                     f"${_money(p1 * qty)} ${_money(p2)} ${_money(p2 * qty)}")
    return f"{cid} Bid Tabs.txt", lines


def _nc_docs(root, seed):
    rows = {}
    for kind, per_doc in NC_ROWS_PER_DOC.items():
        rng = _rng(seed, kind)
        for n in range(NC_DOCS_PER_TYPE):
            fname, lines = _nc_doc(kind, rng, n)
            # the contract ids are drawn; the file name carries the doc index
            fname = f"{n:03d} {fname}"
            path = os.path.join(root, "nc", kind, fname)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                f.write("\n".join(lines) + "\n")
        rows[kind] = per_doc * NC_DOCS_PER_TYPE
    return rows


def doc_tree(root, seed):
    """Write the raw document tree under `root`; return its truth."""
    invoices = _invoices(root, seed)
    return {"invoices": invoices, "nc_rows": _nc_docs(root, seed),
            "n_items": sum(len(i["items"]) for i in invoices)}


# ---------------------------------------------------------- deliveries

DELIVERIES = 5  # cold, warm-up and three measured deliveries
# documents per delivery class; twins arrive as pairs of fresh near-copies
EXACT, NEAR, FRESH, TWIN_PAIRS = 10, 10, 12, 4
EVENTS_PER_DELIVERY = 2000
EVENT_TYPES = ["view", "click", "add_to_cart", "purchase", "error"]
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
EVENT_SCHEMA = pa.schema([("event_id", pa.int64()),
                          ("ts", pa.timestamp("us", tz="UTC")),
                          ("user_id", pa.int64()), ("event_type", pa.string()),
                          ("value", pa.float64()), ("props", pa.string())])


def _norm(text):
    return " ".join(text.split()).lower()


def deliveries(root, lake_dir, seed):
    """Write `DELIVERIES` deliveries under `root`/d<k>/ (docs.parquet +
    events.parquet); return per-document class labels."""
    docs = pq.read_table(os.path.join(lake_dir, "documents.parquet")).to_pylist()
    docs.sort(key=lambda r: r["doc_id"])
    # the bloom store is seeded from the lake slice doc_id % 10 != 0
    seeded = [r for r in docs if r["doc_id"] % 10 != 0]
    vocab = sorted({w for r in docs for w in r["text"].split()})
    seen = {_norm(r["text"]) for r in docs}
    rng = _rng(seed, "deliveries")
    next_id = 10 ** 6
    labels = {}

    def unique(make):
        while True:
            t = make()
            if _norm(t) not in seen:
                seen.add(_norm(t))
                return t

    def near(text):
        w = text.split()
        k = rng.randrange(len(w))
        w[k] = rng.choice([x for x in vocab if x != w[k]])
        return " ".join(w)

    def fresh():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(30, 60)))

    for k in range(DELIVERIES):
        rows = []

        def add(text, cls, src):
            nonlocal next_id
            rows.append({"doc_id": next_id, "text": text, "lang": src["lang"],
                         "source": src["source"], "n_chars": len(text)})
            labels[next_id] = cls
            next_id += 1

        for _ in range(EXACT):
            src = rng.choice(seeded)
            add(src["text"], "exact", src)
        for _ in range(NEAR):
            src = rng.choice([r for r in docs if len(r["text"].split()) >= 8])
            add(unique(lambda: near(src["text"])), "near", src)
        for _ in range(FRESH):
            add(unique(fresh), "fresh", rng.choice(docs))
        for _ in range(TWIN_PAIRS):
            base = unique(fresh)
            src = rng.choice(docs)
            add(base, "twin", src)
            add(unique(lambda: near(base)), "twin", src)
        rng.shuffle(rows)
        _write(pa.Table.from_pylist(rows, DOC_SCHEMA),
               os.path.join(root, f"d{k}", "docs.parquet"))
        t0 = datetime.datetime(2024, 2, 1, tzinfo=datetime.timezone.utc) + \
            datetime.timedelta(days=k)
        events = [{"event_id": k * EVENTS_PER_DELIVERY + i,
                   "ts": t0 + datetime.timedelta(seconds=rng.randrange(86400)),
                   "user_id": rng.randrange(500),
                   "event_type": EVENT_TYPES[i % len(EVENT_TYPES)],
                   "value": rng.randrange(100, 10000) / 100,
                   "props": json.dumps({"k": rng.randrange(100)})}
                  for i in range(EVENTS_PER_DELIVERY)]
        _write(pa.Table.from_pylist(events, EVENT_SCHEMA),
               os.path.join(root, f"d{k}", "events.parquet"))
    return {"labels": {str(i): c for i, c in labels.items()},
            "n_lake_docs": len(docs)}
