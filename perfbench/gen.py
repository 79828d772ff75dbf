"""Seeded input generators for the benchmark (nothing is downloaded).

Claims: every row belongs to one planted pattern, and the generator writes
the tag each rule must give the row from that planting alone:

  background   one row, fresh Aadhaar and Name                  -> Normal
  dup          one Aadhaar, two Names, 10-25 days apart        -> DuplicateAadhaar on both
  dup_near     one Aadhaar, one Name, 10-25 days apart         -> Normal
  multi        one Name, two Aadhaars                          -> MultiAadhaar on both
  multi_near   two Names differing in the last letter          -> Normal
  freq         one Aadhaar and Name, 1-7 days apart            -> FrequentClaims on the later row
  freq_near    one Aadhaar and Name, exactly 8 days apart      -> Normal
  dupfreq      one Aadhaar, two Names, 1-7 days apart          -> both rules on the later row
  high         background rows in an amount band above every other amount;
               the ones strictly above the file's p99 are HighClaimAmount

`(Aadhaar, Name, Date)` is unique per row and no Aadhaar has two rows on one
date, so every tag is independent of row order. The random source is
splitmix64 over a counter, so a seed gives the same files everywhere.

Registry tables: the columns the registry slice reads, in the schemas of the
corpus described in FIXTURES.md section 2, at a fixed small size.
"""

import datetime
import os

import numpy as np

GOLDEN = 0x9E3779B97F4A7C15
SUBSIDIES = ["Education", "Fertilizer", "Housing", "LPG"]
EPOCH = datetime.date(2024, 7, 1)
HEADER = "Name,Aadhaar,ClaimAmount,SubsidyType,Date,FraudLabel"

# every planted pattern is a pair of rows; pairs per row of the file
# (background fills the rest)
PAIR_SHARES = {"dup": 0.005, "dup_near": 0.005, "multi": 0.005, "multi_near": 0.005,
               "freq": 0.005, "freq_near": 0.005, "dupfreq": 0.0025}
HIGH_SHARE = 0.015
PAIR_GAPS = {"dup": (10, 25), "dup_near": (10, 25), "freq": (1, 7),
             "freq_near": (8, 8), "dupfreq": (1, 7)}
# batch tags of the earlier and the later row of each pair
PAIR_TAGS = {"dup": ("DuplicateAadhaar;", "DuplicateAadhaar;"), "dup_near": ("", ""),
             "freq": ("", "FrequentClaims;"), "freq_near": ("", ""),
             "dupfreq": ("DuplicateAadhaar;", "DuplicateAadhaar;FrequentClaims;")}


class Rng:
    """splitmix64 over a counter; `stream` separates independent draws."""

    def __init__(self, seed, stream):
        self.base = np.uint64((seed * GOLDEN + stream * 0xD1B54A32D192ED03 + 1) % (1 << 64))
        self.n = 0

    def bits(self, n):
        x = np.arange(self.n, self.n + n, dtype=np.uint64) * np.uint64(GOLDEN) + self.base
        self.n += n
        z = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))

    def uniform(self, n):
        return (self.bits(n) >> np.uint64(11)).astype(np.float64) * (1.0 / (1 << 53))

    def ints(self, lo, hi, n):
        return lo + (self.bits(n) % np.uint64(hi - lo)).astype(np.int64)

    def perm(self, n):
        return np.argsort(self.uniform(n), kind="stable")


def _p99(amounts):
    """pandas/Spark `percentile` (linear interpolation) at 0.99."""
    return float(np.percentile(amounts, 99))


def claims(seed, stream, n, span_days=480):
    """About n claims; returns dict of numpy columns plus `expected` tags
    (batch semantics) and `pattern` names, in a seeded shuffled order."""
    r = Rng(seed, stream)
    counts = {p: max(1, int(n * share)) for p, share in PAIR_SHARES.items()}
    n_planted = 2 * sum(counts.values())
    n_high = max(2, int(n * HIGH_SHARE))
    n_bg = n - n_planted - n_high
    key0 = int(r.ints(0, 900_000_000_000, 1)[0])
    next_key = [0]

    def keys(m):
        k = (key0 + (np.arange(next_key[0], next_key[0] + m) * 7919)) % 900_000_000_000
        next_key[0] += m
        return 100_000_000_000 + k

    rows = {"Aadhaar": [], "Name": [], "day": [], "pattern": [], "expected": [], "second": []}

    def add(aad, name, day, pat, exp, second):
        for c, v in (("Aadhaar", aad), ("Name", name), ("day", day),
                     ("pattern", np.full(len(aad), pat, dtype=object)),
                     ("expected", np.full(len(aad), exp, dtype=object)),
                     ("second", np.full(len(aad), second))):
            rows[c].append(v)

    def names_for(k):
        return np.array(["C%x" % v for v in k], dtype=object)

    single = n_bg + n_high
    k = keys(single)
    add(k, names_for(k), r.ints(0, span_days, single), "background", "", False)
    for pat in PAIR_SHARES:
        m = counts[pat]
        if pat == "multi" or pat == "multi_near":
            n1 = names_for(keys(m))
            n2 = n1 if pat == "multi" else np.array([s + "z" for s in n1], dtype=object)
            e = "MultiAadhaar;" if pat == "multi" else ""
            add(keys(m), n1, r.ints(0, span_days, m), pat, e, False)
            add(keys(m), n2, r.ints(0, span_days, m), pat, e, True)
            continue
        lo, hi = PAIR_GAPS[pat]
        a = keys(m)
        d1 = r.ints(0, span_days - hi, m)
        d2 = d1 + r.ints(lo, hi + 1, m)
        n1 = names_for(keys(m))
        n2 = names_for(keys(m)) if pat in ("dup", "dupfreq") else n1
        e1, e2 = PAIR_TAGS[pat]
        add(a, n1, d1, pat, e1, False)
        add(a, n2, d2, pat, e2, True)

    cols = {c: np.concatenate(v) for c, v in rows.items()}
    pat, exp = cols["pattern"], cols["expected"]
    total = len(pat)
    amount = np.round(500 + r.uniform(total) * 99_500, 2)
    high = np.zeros(total, dtype=bool)
    high[n_bg:n_bg + n_high] = True          # the last singletons form the band
    amount[high] = np.round(200_000 + r.uniform(n_high) * 300_000, 2)
    pat[high] = "high"
    # High lands only on singletons, so no other tag shares its row
    exp[amount > _p99(amount)] = "HighClaimAmount;"
    cols["ClaimAmount"] = amount
    cols["SubsidyType"] = np.array(SUBSIDIES, dtype=object)[r.ints(0, len(SUBSIDIES), total)]
    order = r.perm(total)
    cols = {c: v[order] for c, v in cols.items()}
    cols["expected"] = np.where(cols["expected"] == "", "Normal", cols["expected"])
    cols["FraudLabel"] = (cols["expected"] != "Normal").astype(np.int64)
    return cols


def date_strings(days):
    base = np.datetime64(EPOCH.isoformat())
    return (base + days.astype("timedelta64[D]")).astype(str)


def write_claims(path, cols, aadhaar_cells=None):
    """Header CSV in the upload shape plus FraudLabel; `aadhaar_cells`
    overrides the Aadhaar text (for malformed uploads)."""
    aad = aadhaar_cells if aadhaar_cells is not None else cols["Aadhaar"].astype(str)
    amt = [f"{v:.2f}" for v in cols["ClaimAmount"].tolist()]
    fields = [cols["Name"].tolist(), aad.tolist(), amt, cols["SubsidyType"].tolist(),
              date_strings(cols["day"]).tolist(), cols["FraudLabel"].astype(str).tolist()]
    lines = [HEADER]
    lines.extend(map(",".join, zip(*fields)))
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def sort_by_date(cols):
    order = np.lexsort((cols["Aadhaar"], cols["day"]))
    return {c: v[order] for c, v in cols.items()}


def stream_expected(cols, high_threshold):
    """Tags of the Aadhaar-keyed streaming rules under prefix semantics, for
    rows fed in date order: only the later row of a pair can see its
    partner, MultiAadhaar is not a rule of this stream, and High uses the
    fitted threshold. Tag order is Dup;High;Freq."""
    pat, second = cols["pattern"], cols["second"]
    exp = np.full(len(pat), "", dtype=object)
    exp[second & np.isin(pat, ["dup", "dupfreq"])] = "DuplicateAadhaar;"
    exp[(pat == "high") & (cols["ClaimAmount"] > high_threshold)] = "HighClaimAmount;"
    exp[second & np.isin(pat, ["freq", "dupfreq"])] += "FrequentClaims;"
    return np.where(exp == "", "Normal", exp)


# ------------------------------------------------------------------ registry

def registry_tables(seed, out_dir):
    """customer/orders/lineitem/events/embeddings/documents/nation/region
    parquet files for the registry slice."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    r = Rng(seed, 1000)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    n_cust, n_ord, n_li, n_ev, n_doc, n_vec = 1500, 15000, 60000, 10000, 500, 500
    write("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": ["NATION_%d" % i for i in range(25)],
                     "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(r.ints(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(-999.99 + r.uniform(n_cust) * 10_999.98, 2),
        "c_mktsegment": segs[r.ints(0, 5, n_cust)].tolist()})
    day0 = np.datetime64("1995-01-01")
    odate = day0 + r.ints(0, 2400, n_ord).astype("timedelta64[D]")
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.ints(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[r.ints(0, 3, n_ord)].tolist(),
        "o_totalprice": np.round(1000 + r.uniform(n_ord) * 499_000, 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                    dtype=object)[r.ints(0, 5, n_ord)].tolist()})
    lord = r.ints(0, n_ord, n_li)
    write("lineitem", {
        "l_orderkey": lord,
        "l_partkey": r.ints(0, 2000, n_li),
        "l_suppkey": r.ints(0, 100, n_li),
        "l_linenumber": pa.array(r.ints(1, 8, n_li).astype(np.int32)),
        "l_quantity": r.ints(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(900 + r.uniform(n_li) * 99_000, 2),
        "l_discount": r.ints(0, 11, n_li) / 100.0,
        "l_tax": r.ints(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[r.ints(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"], dtype=object)[r.ints(0, 2, n_li)].tolist(),
        "l_shipdate": pa.array((odate[lord] + r.ints(1, 122, n_li).astype("timedelta64[D]"))
                               .astype("datetime64[us]"))})
    ts = np.datetime64("2024-01-01T00:00:00", "us") + \
        np.sort(r.ints(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": r.ints(0, 150, n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"],
                               dtype=object)[r.ints(0, 5, n_ev)].tolist(),
        "value": np.round(r.uniform(n_ev) * 20, 2),
        "props": ['{"k": %d}' % v for v in r.ints(0, 100, n_ev)]})
    # embeddings: 10 labelled clusters in 64 dims, as float32 lists
    centers = r.uniform(10 * 64).reshape(10, 64) * 2 - 1
    lab = r.ints(0, 10, n_vec)
    emb = (centers[lab] + (r.uniform(n_vec * 64).reshape(n_vec, 64) - 0.5) * 0.6).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(lab.astype(np.int32))})
    # documents: word salad over a small vocabulary; every fifth document is
    # a light edit of an earlier one, so the near-duplicate joins find pairs
    vocab = np.array(("a the data row table key value part hash scan slow fast merge batch "
                      "spark sort window line query join agg column order customer small big "
                      "filter group stream vector").split(), dtype=object)
    texts = []
    for i in range(n_doc):
        if i % 5 == 4:
            words = texts[int(r.ints(0, i, 1)[0])].split()
            j = int(r.ints(0, len(words), 1)[0])
            words[j] = vocab[int(r.ints(0, len(vocab), 1)[0])]
        else:
            words = list(vocab[r.ints(0, len(vocab), int(r.ints(20, 60, 1)[0]))])
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": ["en"] * n_doc,
        "source": ["src%d" % v for v in r.ints(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
