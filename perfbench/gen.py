"""Seeded input generators and their bookkeeping.

Every generator takes a seed and writes plain parquet files; the engine
never sees the seed, only the files. Each generator also returns the
bookkeeping the correctness checks compare the engine's answers with.
Costs are whole multiples of 1/1024, so every sum of them is exact in a
double and the checks can compare sums for equality, whatever order the
engine adds them in.
"""
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# etl.Accounts.registry; 905174205951 is the region-ruled account.
REGISTRY = ["111111111111", "222222222222", "333333333333", "444444444444",
            "905174205951"]
REGION_RULED = {"905174205951": "ap-southeast-2"}
FOREIGN = ["999999999999", "123456789012"]
SERVICES = ["AmazonEC2", "AmazonS3", "AmazonRDS", "AWSLambda", "AmazonDynamoDB",
            "AmazonCloudFront", "AmazonVPC", "AmazonEKS", "AmazonSageMaker",
            "AWSGlue", "AmazonKinesis", "AmazonRedshift"]
REGIONS = ["us-east-1", "us-west-2", "eu-west-1", "ap-southeast-2",
           "ap-northeast-1", "sa-east-1"]
YEAR = 2024
# The CUR roots: two with the primary column names, one with the
# alternative names Normalize resolves as fallbacks. cur-c types its date
# and cost as strings and carries a few malformed values.
ROOTS = {"cur-a": "primary", "cur-b": "alternative", "cur-c": "malformed"}
COST_SCALE = 1024

PRIMARY = {"id": "identity_line_item_id", "date": "line_item_usage_start_date",
           "account": "line_item_usage_account_id", "service": "product_servicename",
           "region": "product_region", "cost": "line_item_unblended_cost",
           "currency": "line_item_currency_code"}
ALTERNATIVE = {"id": "identity_lineitemid", "date": "lineitem_usagestartdate",
               "account": "lineitem_usageaccountid", "service": "product_productname",
               "region": "product_location", "cost": "lineitem_unblendedcost",
               "currency": "lineitem_currencycode"}
# The rest of a CUR export's width: a few populated descriptive columns
# and many sparse ones (tags, reservation and savings-plan fields).
DENSE_EXTRA = ["bill_billing_entity", "bill_bill_type", "line_item_line_item_type",
               "line_item_operation", "line_item_usage_type", "pricing_term",
               "pricing_unit", "product_instance_type", "product_location_type"]
SPARSE_EXTRA = (["resource_tags_user_" + t for t in (
    "owner", "team", "env", "cost_center", "project", "app", "stack", "service",
    "component", "tier", "customer", "release", "region_alias", "billing_code",
    "data_class", "compliance", "backup", "schedule", "version", "created_by")]
    + ["reservation_" + t for t in (
        "reservation_a_r_n", "start_time", "end_time", "number_of_reservations",
        "units_per_reservation", "amortized_upfront_fee_for_billing_period",
        "effective_cost", "unused_quantity", "unused_recurring_fee",
        "subscription_id", "modification_status", "normalized_units_per_reservation")]
    + ["savings_plan_" + t for t in (
        "savings_plan_a_r_n", "savings_plan_rate", "used_commitment",
        "savings_plan_effective_cost", "amortized_upfront_commitment_for_billing_period",
        "recurring_commitment_for_billing_period", "start_time", "end_time",
        "offering_type", "payment_option", "purchase_term", "region")]
    + ["product_" + t for t in (
        "vcpu", "memory", "storage", "network_performance", "operating_system",
        "tenancy", "license_model", "physical_processor", "clock_speed",
        "current_generation", "ecu", "gpu", "enhanced_networking_supported",
        "processor_architecture", "storage_class", "volume_type", "max_iops",
        "max_throughput", "database_engine", "deployment_option", "from_location",
        "to_location", "transfer_type", "group", "group_description", "sku",
        "product_family", "usagetype", "operation", "servicecode",
        "edition", "cache_engine", "capacitystatus", "marketoption",
        "instance_family", "region_code", "availability_zone",
        "durability", "availability")])


SPARSE_VALUES = pa.array([f"v{v}" for v in range(50)] + [None], pa.string())


def _ts_utc(year, month, seconds):
    base = dt.datetime(year, month, 1, tzinfo=dt.timezone.utc)
    return base + dt.timedelta(seconds=int(seconds))


def _days_in_month(y, m):
    nxt = dt.date(y + (m == 12), m % 12 + 1, 1)
    return (nxt - dt.date(y, m, 1)).days


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def gen_cur(root, seed, rows_per_month, roots=tuple(ROOTS)):
    """The named CUR roots (by default all three) x 12 year=/month=
    partitions. Returns per-row bookkeeping: one dict of numpy arrays per
    table."""
    rng = np.random.default_rng([seed, 1])
    book = {}
    for name in roots:
        style = ROOTS[name]
        names = ALTERNATIVE if style == "alternative" else PRIMARY
        accounts = REGISTRY + FOREIGN
        cols = {k: [] for k in ("acct", "service", "region", "month", "day", "cost_n",
                                "date_ok", "cost_ok")}
        for month in range(1, 13):
            n = rows_per_month
            days = _days_in_month(YEAR, month)
            secs = rng.integers(0, days * 86400, n)
            acct = rng.choice(accounts, n)
            service = rng.choice(SERVICES, n)
            region = rng.choice(REGIONS, n)
            cost_n = rng.integers(1, 1 << 20, n)
            date_ok = np.ones(n, bool)
            cost_ok = np.ones(n, bool)
            if style == "malformed":
                date_ok = rng.random(n) >= 0.01
                cost_ok = rng.random(n) >= 0.01
            ids = [f"{name}-{month:02d}-{i:06d}-{seed}" for i in range(n)]
            stamps = [_ts_utc(YEAR, month, s) for s in secs]
            if style == "malformed":
                date_col = pa.array([
                    t.strftime("%Y-%m-%dT%H:%M:%SZ") if ok else f"{YEAR}-{month:02d}-3{k % 10}X"
                    for k, (t, ok) in enumerate(zip(stamps, date_ok))], pa.string())
                cost_col = pa.array([repr(c / COST_SCALE) if ok else "n/a"
                                     for c, ok in zip(cost_n, cost_ok)], pa.string())
            else:
                date_col = pa.array(stamps, pa.timestamp("us", tz="UTC"))
                cost_col = pa.array(cost_n / COST_SCALE, pa.float64())
            data = {
                names["id"]: pa.array(ids, pa.string()),
                names["date"]: date_col,
                names["account"]: pa.array(acct, pa.string()),
                names["service"]: pa.array(service, pa.string()),
                names["region"]: pa.array(region, pa.string()),
                names["cost"]: cost_col,
                names["currency"]: pa.array(["USD"] * n, pa.string()),
            }
            for c in DENSE_EXTRA:
                data[c] = pa.array([f"{c[:6]}-{v}" for v in range(8)]).take(
                    pa.array(rng.integers(0, 8, n)))
            for c in SPARSE_EXTRA:
                idx = rng.integers(0, 50, n)
                data[c] = SPARSE_VALUES.take(pa.array(np.where(rng.random(n) < 0.03, idx, 50)))
            _write(pa.table(data), os.path.join(
                root, name, f"year={YEAR}", f"month={month}", "part-0.parquet"))
            for k, v in (("acct", acct), ("service", service), ("region", region),
                         ("month", np.full(n, month)), ("day", secs // 86400 + 1),
                         ("cost_n", cost_n), ("date_ok", date_ok), ("cost_ok", cost_ok)):
                cols[k].append(v)
        table = name.replace("-", "_")
        book[table] = {k: np.concatenate(v) for k, v in cols.items()}
    return book


def _synced(b, months):
    """Mask of rows a replace-mode Sync over `months` loads into the
    normalized table of one root: the registry's accounts, the
    region-ruled one only in its region, whatever the root's column
    names."""
    plain = [a for a in REGISTRY if a not in REGION_RULED]
    allowed = np.isin(b["acct"], plain)
    for a, r in REGION_RULED.items():
        allowed |= (b["acct"] == a) & (b["region"] == r)
    return np.isin(b["month"], months) & allowed


def source_rows(book, months):
    return int(sum(np.isin(b["month"], months).sum() for b in book.values()))


def expected_costs(book, months):
    """(source_table, account_id, service, year, month) -> [rows, cost sum
    in 1/1024 units or None] over the normalized tables after a sync of
    `months`. Malformed dates group under year/month None."""
    out = {}
    for table, b in book.items():
        m = _synced(b, months)
        for acct, svc, mon, ok, cn, cok in zip(b["acct"][m], b["service"][m], b["month"][m],
                                               b["date_ok"][m], b["cost_n"][m], b["cost_ok"][m]):
            key = (table, str(acct), str(svc), YEAR if ok else None, int(mon) if ok else None)
            e = out.setdefault(key, [0, None])
            e[0] += 1
            if cok:
                e[1] = (e[1] or 0) + int(cn)
    return out


def serving_requests(book, seed, cycles, months, c_queries):
    """A seeded request stream over a warehouse synced for `months`:
    `cycles` repetitions of one cycle in which every request kind comes
    equally often, D1, D2, D3, D4, D5 and a declared c-family query, once
    for each query of `c_queries`. D1-D5 are parameterized SQL text with
    expected answers. The sequence of kinds and of c queries is the same
    for every seed; the seed draws the parameters."""
    rng = np.random.default_rng([seed, 2])
    tables = sorted(book)
    # flat arrays over every normalized row of the synced window
    parts = []
    month_start = np.array([0] + [dt.date(YEAR, mo, 1).toordinal() for mo in range(1, 13)])
    for t in tables:
        b = book[t]
        m = _synced(b, months)
        doy = month_start[b["month"][m]] + b["day"][m] - 1
        parts.append((b["acct"][m], b["service"][m], doy, b["date_ok"][m],
                      np.where(b["cost_ok"][m], b["cost_n"][m], 0)))
    acct, svc, doy, date_ok, cost = (np.concatenate(x) for x in zip(*parts))
    synced = {t: int(_synced(book[t], months).sum()) for t in tables}
    first_day = dt.date(YEAR, months[0], 1).toordinal()
    span = dt.date(YEAR, 12, 31).toordinal() - first_day
    reqs = []
    kinds = [k for c in c_queries for k in ("D1", "D2", "D3", "D4", "D5", c)]
    for i in range(cycles * len(kinds)):
        kind = kinds[i % len(kinds)]
        if kind not in ("D1", "D2", "D3", "D4", "D5"):
            reqs.append({"kind": "c", "name": kind})
            continue
        if kind in ("D1", "D3"):
            s = first_day + int(rng.integers(0, span - 7))
            e = s + 6
            start, end = dt.date.fromordinal(s), dt.date.fromordinal(e)
            m = date_ok & (doy >= s) & (doy <= e)
            uniq, inv = np.unique(svc[m] if kind == "D1" else doy[m], return_inverse=True)
            sums = np.bincount(inv, weights=cost[m], minlength=len(uniq))
            exp = {(str(k) if kind == "D1" else dt.date.fromordinal(int(k)).isoformat()): int(v)
                   for k, v in zip(uniq, sums)}
            if kind == "D1":
                sql = ("SELECT service, SUM(cost) AS total FROM costs "
                       f"WHERE date BETWEEN DATE'{start}' AND DATE'{end}' GROUP BY service")
            else:
                sql = ("SELECT date, SUM(cost) AS total FROM costs "
                       f"WHERE date BETWEEN DATE'{start}' AND DATE'{end}' "
                       "GROUP BY date ORDER BY date")
            reqs.append({"kind": kind, "sql": sql, "expect": exp})
        elif kind == "D2":
            picks = sorted(str(a) for a in rng.choice(REGISTRY + FOREIGN, 2, replace=False))
            exp = {}
            for a in picks:
                m = acct == a
                if m.any():
                    exp[a] = [int(m.sum()), int(cost[m].sum())]
            in_list = ", ".join(f"'{a}'" for a in picks)
            sql = ("SELECT account_id, COUNT(*) AS n, SUM(cost) AS total FROM costs "
                   f"WHERE account_id IN ({in_list}) GROUP BY account_id")
            reqs.append({"kind": kind, "sql": sql, "expect": exp})
        elif kind == "D4":
            t = tables[int(rng.integers(0, len(tables)))]
            reqs.append({"kind": kind, "sql": f"SELECT * FROM {{raw_{t}}} LIMIT 10",
                         "expect": {"rows": 10}})
        else:
            reqs.append({"kind": kind, "sql": (
                "SELECT source_name, rows_loaded, status FROM {sync_log} "
                "ORDER BY sync_timestamp DESC, source_name LIMIT 3"),
                # raw plus normalized rows per source, as Sync logs them
                "expect": {t: 2 * synced[t] for t in tables}})
    return reqs


WORDS = ("data table value query spark batch stream merge join group order sort key "
         "line part scan filter column window agg fast slow big small customer row "
         "hash index cache shard token model train serve cost cloud usage region "
         "bill account report trend daily month year price rate plan node disk "
         "memory network latency throughput request response error retry").split()
STOP = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


def gen_corpus(path, seed, n_base, near_groups, exact_groups, copies):
    """A corpus with near-duplicate groups (per-copy token perturbation),
    exact-duplicate groups, shared boilerplate paragraphs on a fraction
    of documents, and a fraction that fails the quality filter."""
    rng = np.random.default_rng([seed, 3])
    boiler = [" ".join(rng.choice(WORDS + STOP, 20)) for _ in range(4)]

    def body(n_tok):
        return list(rng.choice(WORDS + STOP, n_tok, p=None))

    docs = []  # (text, group kind, group id)
    for i in range(n_base):
        toks = body(int(rng.integers(60, 200)))
        kind = "unique"
        if rng.random() < 0.1:
            toks = toks[:int(rng.integers(3, 15))]  # below the 20-token floor
            kind = "low_quality"
        text = " ".join(toks)
        if kind == "unique" and rng.random() < 0.2:
            text = boiler[int(rng.integers(0, len(boiler)))] + " " + text
        docs.append((text, kind, -1))
    for g in range(near_groups):
        toks = body(int(rng.integers(100, 200)))
        for _ in range(copies):
            c = list(toks)
            for j in rng.choice(len(c), max(1, len(c) // 40), replace=False):
                c[j] = str(rng.choice(WORDS))
            docs.append((" ".join(c), "near", g))
    for g in range(exact_groups):
        text = " ".join(body(int(rng.integers(80, 160))))
        for _ in range(copies):
            docs.append((text, "exact", g))
    order = rng.permutation(len(docs))
    docs = [docs[i] for i in order]
    ids = np.arange(len(docs), dtype=np.int64) * 7 + 11
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array([d[0] for d in docs], pa.string()),
        "lang": pa.array(["en"] * len(docs), pa.string()),
        "source": pa.array([f"src{int(v)}" for v in rng.integers(0, 20, len(docs))], pa.string()),
        "n_chars": pa.array([len(d[0]) for d in docs], pa.int64()),
    })
    _write(table, path)
    exact = {}
    for i, d in zip(ids, docs):
        if d[1] == "exact":
            exact.setdefault(d[2], []).append(int(i))
    return {"n_docs": len(docs), "doc_ids": [int(i) for i in ids],
            "exact_groups": list(exact.values())}


def gen_stream(root, seed, n_files, rows_per_file):
    """Small CUR-shaped files, all present at start, with increasing
    modification times. Event time advances 5 minutes per file; some rows
    are re-delivered one to three files later, and some arrive up to 30
    minutes late, all inside the one-hour watermark."""
    rng = np.random.default_rng([seed, 4])
    start = dt.datetime(YEAR, 3, 31, 20, 0, tzinfo=dt.timezone.utc)
    pending = {}  # file index -> rows to re-deliver there
    book = {}  # id -> (service, month, cost_n)
    mtime0 = 1_700_000_000
    for f in range(n_files):
        t0 = start + dt.timedelta(minutes=5 * f)
        n = rows_per_file
        late = rng.random(n) < 0.1
        secs = rng.integers(0, 300, n) - np.where(late, rng.integers(60, 1800, n), 0)
        accts, svcs = rng.choice(REGISTRY, n), rng.choice(SERVICES, n)
        regs, costs = rng.choice(REGIONS, n), rng.integers(1, 1 << 20, n)
        redeliver, later = rng.random(n) < 0.05, rng.integers(1, 4, n)
        rows = []
        for i in range(n):
            ts = t0 + dt.timedelta(seconds=int(secs[i]))
            row = (f"s{seed}-{f:05d}-{i:04d}", ts, str(accts[i]), str(svcs[i]),
                   str(regs[i]), int(costs[i]))
            rows.append(row)
            book[row[0]] = (row[3], ts.month, row[5])
            if redeliver[i]:
                pending.setdefault(f + int(later[i]), []).append(row)
        rows += pending.pop(f, [])
        table = pa.table({
            "identity_line_item_id": pa.array([r[0] for r in rows], pa.string()),
            "line_item_usage_start_date": pa.array([r[1] for r in rows],
                                                   pa.timestamp("us", tz="UTC")),
            "line_item_usage_account_id": pa.array([r[2] for r in rows], pa.string()),
            "product_servicename": pa.array([r[3] for r in rows], pa.string()),
            "product_region": pa.array([r[4] for r in rows], pa.string()),
            "line_item_unblended_cost": pa.array([r[5] / COST_SCALE for r in rows], pa.float64()),
            "line_item_currency_code": pa.array(["USD"] * len(rows), pa.string()),
        })
        p = os.path.join(root, f"part-{f:05d}.parquet")
        _write(table, p)
        os.utime(p, (mtime0 + f, mtime0 + f))
    sent = sum(pq.read_metadata(os.path.join(root, f)).num_rows for f in os.listdir(root))
    exp = {}
    for svc, mon, cn in book.values():
        e = exp.setdefault((svc, YEAR, mon), [0, 0])
        e[0] += 1
        e[1] += cn
    return {"rows": len(book), "rows_sent": sent, "expect": exp}


def gen_tables(root, seed, scale):
    """The star-schema tables the declared c-family queries read, with the
    value domains of the repository's test data; `scale` 0.01 gives 60k
    lineitem rows."""
    rng = np.random.default_rng([seed, 5])
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_events = int(1_500_000 * scale), int(1_000_000 * scale)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def stamps(lo, hi, n, micros=False):
        a, b = dt.datetime(*lo), dt.datetime(*hi)
        span = int((b - a).total_seconds())
        s = rng.integers(0, span, n)
        out = np.datetime64(a, "us") + s.astype("timedelta64[s]")
        if micros:
            out = out + rng.integers(0, 1_000_000, n).astype("timedelta64[us]")
        else:
            out = out.astype("datetime64[D]").astype("datetime64[us]")
        return pa.array(out, pa.timestamp("us"))

    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE",
                                    "BUILDING"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999, 9999, n_supp)})
    adj = ["small", "red", "blue", "green", "large", "shiny", "old", "new"]
    noun = ["ring", "widget", "bolt", "nut", "gear", "panel", "valve", "spring"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{v}" for v in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": stamps((1995, 1, 1), (2001, 8, 1), n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    per = rng.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per])
    n_li = len(okeys)
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": stamps((1995, 1, 2), (2001, 11, 4), n_li)})
    ev_ts = stamps((2024, 1, 1), (2024, 1, 30), n_events, micros=True)
    t["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": ev_ts.take(pa.array(np.argsort(np.asarray(ev_ts.cast(pa.int64())), kind="stable"))),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_events),
        "value": money(0.01, 500, n_events),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_events)]})
    n_docs = 500
    texts = [" ".join(rng.choice(WORDS + STOP, int(rng.integers(20, 80)))) for _ in range(n_docs)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()), "text": texts,
        "lang": rng.choice(["en", "fr", "zh", "de", "es"], n_docs),
        "source": [f"src{v}" for v in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    emb = np.round(rng.normal(0, 1, (n_docs, 64)), 3).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), pa.int32())})
    for name, tab in t.items():
        _write(tab, os.path.join(root, f"{name}.parquet"))
    return {name: tab.num_rows for name, tab in t.items()}


def summarize(paths):
    """Input sizes and a content hash over every file under `paths`."""
    h = hashlib.sha256()
    files = size = 0
    for base in paths:
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames.sort()
            for f in sorted(filenames):
                p = os.path.join(dirpath, f)
                with open(p, "rb") as fh:
                    data = fh.read()
                h.update(os.path.relpath(p, base).encode())
                h.update(data)
                files += 1
                size += len(data)
    return {"files": files, "bytes": size, "sha256": h.hexdigest()}
