"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. Sizes are fixed per workload, so seeds vary the content (which
points are far or stale, which documents are duplicated, which keys a write
touches) but not the amount of work.
"""
import json
import math

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

M_PER_DEG_LAT = 111194.927

# etl_addresses: 1/25 of the 10 000 x 100 000 fixture graft.Bench uses, at
# the same street density, so a run warms up and measures several pipeline
# runs in about a minute.
ETL_STREETS = 400
ETL_POINTS = 4000
ETL_FAR_SHARE = 0.10      # points 60-460 m from every street (error path)
ETL_STALE_SHARE = 0.10    # points dated 1700-1799 (temporal error path)
ETL_MONTH_SHARE = 0.20    # dates with month precision; the rest year-only
ETL_SAMPLE = 200          # points checked against a brute-force match

# dedup_corpus
DOC_COUNT = 2000
DOC_VOCAB = 2048          # verify mask = 2048/64 = 32 longs per document
DOC_MIN_LEN, DOC_MAX_LEN = 30, 60
DUP_SHARE = 0.30          # share of documents that are planted copies
DUP_MAX_EDITS = 4         # token replacements per copy: J from ~0.76 to 1

# table_mix: TPC-H-shaped star schema at about sf 0.005, plus a documents
# table with planted near-duplicates for the traced dedup probes
MIX_DOCS = 400
MIX_DOC_VOCAB = 512
MIX_CUSTOMERS = 750
MIX_ORDERS = 7500
MIX_PARTS = 1000
MIX_SUPPLIERS = 50


def _date_str(rng, year, month_share):
    if rng.random() < month_share:
        return f"{year}-{1 + int(rng.integers(12)):02d}"
    return str(year)


def _m_per_deg_lon(lat):
    return M_PER_DEG_LAT * math.cos(math.radians(lat))


def gen_etl(out, seed):
    """streets.ndjson + house_numbers.ndjson in the Space/Time shapes graft's
    SpacetimeEtl reads, and sample_ids.txt: the points whose match the
    harness recomputes by brute force."""
    rng = np.random.default_rng([seed, 1])
    scale = math.sqrt(ETL_STREETS / 44.0)
    lon_span, lat_span = 0.030 * scale, 0.050 * scale
    segs = []  # (x1, y1, x2, y2, since_year)
    with open(f"{out}/streets.ndjson", "w") as f:
        for i in range(1, ETL_STREETS + 1):
            n = 2 + int(rng.integers(7))
            x = -74.005 + rng.random() * lon_span
            y = 40.705 + rng.random() * lat_span
            heading = rng.random() * 2 * math.pi
            cs = [[x, y]]
            for _ in range(n - 1):
                step = 80 + rng.random() * 220
                heading += (rng.random() - 0.5) * 1.4
                x += step * math.cos(heading) / _m_per_deg_lon(y)
                y += step * math.sin(heading) / M_PER_DEG_LAT
                cs.append([x, y])
            sy = 1850 + int(rng.integers(40))
            uy = sy + 5 + int(rng.integers(35))
            for a, b in zip(cs, cs[1:]):
                segs.append((a[0], a[1], b[0], b[1], sy))
            f.write(json.dumps({
                "id": f"s{i:06d}", "type": "st:Street", "name": f"Street {i}",
                "validSince": _date_str(rng, sy, ETL_MONTH_SHARE),
                "validUntil": _date_str(rng, uy, ETL_MONTH_SHARE),
                "data": {}, "geometry": {"type": "LineString", "coordinates": cs},
            }, separators=(",", ":")) + "\n")
    boroughs = ["Manhattan", "Brooklyn", "Queens", "Bronx", "Staten Island"]
    kinds = rng.random(ETL_POINTS)
    with open(f"{out}/house_numbers.ndjson", "w") as f:
        for i in range(1, ETL_POINTS + 1):
            x1, y1, x2, y2, sy = segs[int(rng.integers(len(segs)))]
            k = kinds[i - 1]
            if k < ETL_FAR_SHARE:
                t = rng.random()
                off = (60 + 400 * rng.random()) / M_PER_DEG_LAT
                px, py = x1 + t * (x2 - x1) + off, y1 + t * (y2 - y1) + off
            else:
                # 2-20 m perpendicular off a point inside the segment
                t = 0.1 + 0.8 * rng.random()
                bx, by = x1 + t * (x2 - x1), y1 + t * (y2 - y1)
                ex = (x2 - x1) * _m_per_deg_lon(by)
                ey = (y2 - y1) * M_PER_DEG_LAT
                ln = math.hypot(ex, ey)
                o = (2 + 18 * rng.random()) * (1 if rng.random() < 0.5 else -1)
                px = bx - o * (ey / ln) / _m_per_deg_lon(by)
                py = by + o * (ex / ln) / M_PER_DEG_LAT
            if k >= 1 - ETL_STALE_SHARE:
                y0 = 1700 + int(rng.integers(100))
                since, until = str(y0), str(y0 + 5)
            else:
                ay = sy + int(rng.integers(6))
                since = _date_str(rng, ay, ETL_MONTH_SHARE)
                until = _date_str(rng, ay + int(rng.integers(12)), ETL_MONTH_SHARE)
            f.write(json.dumps({
                "id": f"h{i:07d}", "type": "st:Address",
                "validSince": since, "validUntil": until,
                "data": {"sheetId": 1000 + i, "layerId": i % 7, "mapId": 1 + i % 13,
                         "number": str(1 + int(rng.integers(299))),
                         "borough": boroughs[i % 5]},
                "geometry": {"type": "Point", "coordinates": [px, py]},
            }, separators=(",", ":")) + "\n")
    sample = sorted(rng.choice(ETL_POINTS, ETL_SAMPLE, replace=False) + 1)
    with open(f"{out}/sample_ids.txt", "w") as f:
        f.writelines(f"h{int(i):07d}\n" for i in sample)


def _planted_corpus(rng, n_docs, vocab, min_len, max_len):
    """Token sets with planted near-duplicates: a DUP_SHARE of the documents
    are copies of a base document with up to DUP_MAX_EDITS tokens replaced.
    Returns (doc_ids, token sets, planted pairs as [a, b, inter, na, nb])."""
    n_copies = int(n_docs * DUP_SHARE)
    n_base = n_docs - n_copies
    docs = []
    for _ in range(n_base):
        n = int(rng.integers(min_len, max_len + 1))
        docs.append(set(rng.choice(vocab, n, replace=False).tolist()))
    groups = {}
    for _ in range(n_copies):
        b = int(rng.integers(n_base))
        toks = set(docs[b])
        for _ in range(int(rng.integers(DUP_MAX_EDITS + 1))):
            toks.remove(sorted(toks)[int(rng.integers(len(toks)))])
            while True:
                t = int(rng.integers(vocab))
                if t not in toks and t not in docs[b]:
                    toks.add(t)
                    break
        groups.setdefault(b, [b]).append(len(docs))
        docs.append(toks)
    # shuffle ids so copies do not sit next to their base
    ids = [int(p) + 1 for p in rng.permutation(n_docs)]
    planted = []
    for members in groups.values():
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                planted.append([min(ids[a], ids[b]), max(ids[a], ids[b]),
                                len(docs[a] & docs[b]), len(docs[a]), len(docs[b])])
    return ids, docs, sorted(planted)


def _texts(ids, docs):
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    return [ids[i] for i in order], [" ".join(f"w{t:04d}" for t in sorted(docs[i]))
                                      for i in order]


def gen_corpus(out, seed):
    """corpus.parquet (doc_id, text) with planted near-duplicates, and
    planted.json: every planted pair with its exact token Jaccard."""
    rng = np.random.default_rng([seed, 2])
    ids, docs, planted = _planted_corpus(rng, DOC_COUNT, DOC_VOCAB, DOC_MIN_LEN, DOC_MAX_LEN)
    doc_ids, text = _texts(ids, docs)
    pq.write_table(pa.table({"doc_id": pa.array(doc_ids, pa.int64()),
                             "text": pa.array(text, pa.string())}),
                   f"{out}/corpus.parquet")
    with open(f"{out}/planted.json", "w") as f:
        json.dump(planted, f)


NATIONS = [("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
           ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
           ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
           ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
           ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
           ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
           ("UNITED KINGDOM", 3), ("UNITED STATES", 1)]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def gen_tables(out, seed):
    """The star-schema tables graft's relational queries read, one parquet
    file each, with the column names and types of graft's test data."""
    rng = np.random.default_rng([seed, 3])
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def write(name, cols):
        pq.write_table(pa.table({k: pa.array(v, t) for k, (v, t) in cols.items()}),
                       f"{out}/{name}.parquet")

    write("region", {"r_regionkey": (list(range(5)), i32), "r_name": (REGIONS, s)})
    write("nation", {"n_nationkey": (list(range(25)), i32),
                     "n_name": ([n for n, _ in NATIONS], s),
                     "n_regionkey": ([r for _, r in NATIONS], i32)})
    nc = MIX_CUSTOMERS
    write("customer", {
        "c_custkey": (list(range(1, nc + 1)), i64),
        "c_name": ([f"Customer#{i:09d}" for i in range(1, nc + 1)], s),
        "c_nationkey": (rng.integers(25, size=nc).tolist(), i32),
        "c_acctbal": (np.round(rng.uniform(-999, 9999, nc), 2).tolist(), f64),
        "c_mktsegment": (rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                     "HOUSEHOLD", "MACHINERY"], nc).tolist(), s)})
    ns = MIX_SUPPLIERS
    write("supplier", {
        "s_suppkey": (list(range(1, ns + 1)), i64),
        "s_name": ([f"Supplier#{i:09d}" for i in range(1, ns + 1)], s),
        "s_nationkey": (rng.integers(25, size=ns).tolist(), i32),
        "s_acctbal": (np.round(rng.uniform(-999, 9999, ns), 2).tolist(), f64)})
    npart = MIX_PARTS
    price = np.round(900 + rng.uniform(0, 1100, npart), 2)
    write("part", {
        "p_partkey": (list(range(1, npart + 1)), i64),
        "p_name": ([f"part {i}" for i in range(1, npart + 1)], s),
        "p_brand": ([f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (npart, 2))], s),
        "p_type": (rng.choice(["STANDARD BRUSHED TIN", "SMALL PLATED COPPER",
                               "LARGE POLISHED STEEL", "ECONOMY ANODIZED BRASS"],
                              npart).tolist(), s),
        "p_size": (rng.integers(1, 51, npart).tolist(), i32),
        "p_retailprice": (price.tolist(), f64)})
    no = MIX_ORDERS
    day0 = np.datetime64("1992-01-01T00:00:00", "us")
    odays = rng.integers(0, 2400, no)
    odate = day0 + odays.astype("timedelta64[D]")
    lines = rng.integers(1, 8, no)
    n_li = int(lines.sum())
    l_ok = np.repeat(np.arange(1, no + 1), lines)
    l_ln = np.concatenate([np.arange(1, k + 1) for k in lines])
    l_pk = rng.integers(1, npart + 1, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    ext = np.round(qty * price[l_pk - 1], 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    cutoff = np.datetime64("1995-06-17", "us")
    status = np.where(ship > cutoff, "O", "F")
    rflag = np.where(status == "O", "N", rng.choice(["R", "A"], n_li))
    totals = np.zeros(no)
    np.add.at(totals, l_ok - 1, ext * (1 + tax) * (1 - disc))
    write("orders", {
        "o_orderkey": (list(range(1, no + 1)), i64),
        "o_custkey": (rng.integers(1, nc + 1, no).tolist(), i64),
        "o_orderstatus": (rng.choice(["O", "F", "P"], no).tolist(), s),
        "o_totalprice": (np.round(totals, 2).tolist(), f64),
        "o_orderdate": (odate, ts),
        "o_orderpriority": (rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                        "5-LOW"], no).tolist(), s)})
    ids, docs, _ = _planted_corpus(rng, MIX_DOCS, MIX_DOC_VOCAB, 20, 40)
    doc_ids, text = _texts(ids, docs)
    write("documents", {"doc_id": (doc_ids, i64), "text": (text, s),
                        "lang": (["en"] * len(text), s),
                        "source": ([f"src{i % 7}" for i in doc_ids], s),
                        "n_chars": ([len(t) for t in text], i64)})
    write("lineitem", {
        "l_orderkey": (l_ok.tolist(), i64), "l_partkey": (l_pk.tolist(), i64),
        "l_suppkey": (rng.integers(1, ns + 1, n_li).tolist(), i64),
        "l_linenumber": (l_ln.tolist(), i32), "l_quantity": (qty.tolist(), f64),
        "l_extendedprice": (ext.tolist(), f64), "l_discount": (disc.tolist(), f64),
        "l_tax": (tax.tolist(), f64), "l_returnflag": (rflag.tolist(), s),
        "l_linestatus": (status.tolist(), s), "l_shipdate": (ship, ts)})


GENERATORS = {"etl_addresses": gen_etl, "dedup_corpus": gen_corpus,
              "table_mix": gen_tables}
