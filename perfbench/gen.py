"""Seeded inputs and expected results for the perfbench workloads.

Everything here is plain Python: the raw zone (dated csv.gz), the metadata
CSVs the library loads through MetaLoader, and an independent model of what
each stage table must hold after every ingest day. The model never calls
the library; it re-derives each DSL column from its definition below and
keeps an order-insensitive hash (row count plus two sums of md5 prefixes)
per table, updated incrementally as days are applied.

The same seed gives the same inputs, relative to the anchor date. The
anchor is today's date in America/Lima, the clock the orchestrator reads
for its transactional-window cutoff, so the deleted window covers the same
relative periods on any calendar day.
"""
import csv
import gzip
import hashlib
import os
import random
import re
from datetime import date, datetime, timedelta
from decimal import Decimal, ROUND_HALF_UP

NULL = "\\N"
SEP = "\x01"
PROJECT, BD_TYPE, ENDPOINT = "pb", "oracle", "ERP"
STAGE_DB = "pb_stage"
# pinned clock for DSL now() (spark.graft.now), and what a UTC noon renders
# as after fn_transform_Datetime()'s UTC->Lima shift
GRAFT_NOW = "2024-06-01 12:00:00"
GRAFT_NOW_LIMA = datetime(2024, 6, 1, 7, 0, 0)
ORDINAL_RE = re.compile(r"^([7-9][0-9]{5}|[1-2][0-9]{6}|3[0-5][0-9]{5})$")
CENT = Decimal("0.01")


# ---------------------------------------------------------------- hashing

def render(kind, v):
    """A typed value as Spark's cast-to-string prints it."""
    if v is None:
        return NULL
    if kind == "decimal(12,2)":
        return str(v.quantize(CENT, ROUND_HALF_UP))
    if kind == "timestamp":
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if kind == "date":
        return v.isoformat()
    return str(v)


def row_hash(values):
    h = hashlib.md5(SEP.join(values).encode()).hexdigest()
    return int(h[:8], 16), int(h[8:16], 16)


class Expected:
    """One stage table's expected state: key -> (h1, h2), grouped by the
    transactional period so a window delete drops whole groups."""

    def __init__(self):
        self.groups = {}
        self.where = {}

    def clear(self):
        self.groups = {}
        self.where = {}

    def put(self, group, key, h):
        old = self.where.get(key, group)
        if old != group:
            del self.groups[old][key]
        self.where[key] = group
        self.groups.setdefault(group, {})[key] = h

    def delete_window(self, cutoff):
        for g in [g for g in self.groups if g is not None and int(g) >= cutoff]:
            for key in self.groups.pop(g):
                del self.where[key]

    def state(self):
        n = h1 = h2 = 0
        for rows in self.groups.values():
            n += len(rows)
            for a, b in rows.values():
                h1 += a
                h2 += b
        return [n, h1, h2]


# ------------------------------------------------------ DSL column models

def clear_string(v, dflt=None):
    return dflt if v is None else v.strip(" ")


def case_default(v, rules, dflt):
    out = dflt
    for values, label in rules:
        if v is not None and v in values:
            out = label
    return out


def date_magic(v, dflt="1900-01-01"):
    if v is not None and ORDINAL_RE.match(v):
        return date.fromordinal(int(v))
    return date.fromisoformat(dflt)


TS_RE = re.compile(r"^(\d{4})-(\d{2})-(\d{2}) (\d{2}):(\d{2}):(\d{2})$")


def to_ts(v):
    m = TS_RE.match(v) if v is not None else None
    if m is None:
        return None
    try:
        return datetime(*map(int, m.groups()))
    except ValueError:
        return None


def period_magic(p, e):
    if p is None:
        return "190001"
    if e is None:
        return None
    return p + e.rjust(2, "0")[:2]


def byte_magic(v, dflt):
    return v if v in ("T", "F") else dflt


def concat(*vs):
    return "|".join(v for v in vs if v is not None)


def to_int(v):
    return None if v is None else int(v)


def to_dec(v):
    return None if v is None else Decimal(v)


def to_date(v):
    return None if v is None else date.fromisoformat(v)


class Col:
    """One stage column: its metadata row and the model of its value."""

    def __init__(self, name, kind, dsl, fn, is_id=False, recency=False,
                 partition=False, bad=False):
        self.name, self.kind, self.dsl, self.fn = name, kind, dsl, fn
        self.is_id, self.recency, self.partition = is_id, recency, partition
        self.bad = bad


class Table:
    """One configured table: its metadata and its expected stage state."""

    def __init__(self, name, source, load, cols, ttype="m", delay=-2,
                 stable=False, active=True):
        self.name, self.source, self.load, self.cols = name, source, load, cols
        self.ttype, self.delay, self.stable, self.active = ttype, delay, stable, active
        self.live = sorted((c for c in cols if not c.bad), key=lambda c: c.name)
        self.ids = [c for c in cols if c.is_id]
        self.recency = [c for c in cols if c.recency]
        self.period = next((c for c in cols if c.partition and c.name == "processperiod"), None)
        self.expected = Expected()
        self.seen = {}

    @property
    def stage(self):
        return self.name.lower()

    @property
    def mode(self):
        if self.load != "incremental":
            return "full"
        return "window" if self.ttype == "t" else "merge"

    def quarantined(self):
        return [c.name for c in self.cols if c.bad]

    def apply(self, batch, cutoff):
        """Stage-transform, dedup and merge one raw batch into the model.
        A raw row seen on an earlier day reuses its modelled result."""
        latest = {}
        for r in batch:
            raw = tuple(r.values())
            hit = self.seen.get(raw)
            if hit is None:
                vals = {c.name: c.fn(r) for c in self.cols if not c.bad}
                hit = (tuple(vals[c.name] for c in self.ids),
                       tuple(vals[c.name] for c in self.recency),
                       vals["processperiod"] if self.period else None,
                       row_hash([render(c.kind, vals[c.name]) for c in self.live]))
                self.seen[raw] = hit
            key, rec = hit[0], hit[1]
            if key not in latest or rec > latest[key][1]:
                latest[key] = hit
        if self.mode == "full":
            self.expected.clear()
        elif self.mode == "window":
            self.expected.delete_window(cutoff)
        for key, (_, _, group, h) in latest.items():
            self.expected.put(group, key, h)


# ------------------------------------------------------------- raw zone

def dated_path(root, table, day):
    return (f"{root}/{PROJECT}/{BD_TYPE}/{ENDPOINT}/{table}/"
            f"{day.year:04d}/{day.month:02d}/{day.day:02d}")


def write_raw(root, table, day, header, rows, files=1):
    """One day's extract of one source table as `files` csv.gz parts;
    returns the bytes written. None is an empty field (read back as null)."""
    d = dated_path(root, table, day)
    os.makedirs(d, exist_ok=True)
    total = 0
    for i in range(files):
        p = f"{d}/part-{i:05d}.csv.gz"
        with gzip.open(p, "wt", newline="", compresslevel=1) as f:
            f.write(",".join(header) + "\n")
            for r in rows[i::files]:
                f.write(",".join("" if r[h] is None else r[h] for h in header) + "\n")
        total += os.path.getsize(p)
    return total


def write_meta(meta_dir, tables):
    os.makedirs(meta_dir, exist_ok=True)
    with open(f"{meta_dir}/endpoints.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["ENDPOINT_NAME", "BD_TYPE", "SRC_SERVER_NAME", "DB_PORT_NUMBER",
                    "SRC_DB_NAME", "SRC_DB_USERNAME", "SRC_DB_SECRET"])
        w.writerow([ENDPOINT, BD_TYPE, "erp.local", "1521", "ERP", "etl", "none"])
    with open(f"{meta_dir}/tables.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["TARGET_TABLE_NAME", "ENDPOINT", "SOURCE_SCHEMA", "SOURCE_TABLE",
                    "STAGE_TABLE_NAME", "ACTIVE_FLAG", "LOAD_TYPE", "ID_COLUMN",
                    "DELAY_INCREMENTAL_INI", "SOURCE_TABLE_TYPE", "PARTITION_STABLE",
                    "PROCESS_ID"])
        for t in tables:
            w.writerow([t.name, ENDPOINT, "erp", t.source, t.stage,
                        "Y" if t.active else "N", t.load,
                        ",".join(c.name for c in t.ids), str(t.delay), t.ttype,
                        "Y" if t.stable else "", "10"])
    with open(f"{meta_dir}/columns.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["TARGET_TABLE_NAME", "COLUMN_NAME", "COLUMN_ID", "NEW_DATA_TYPE",
                    "TRANSFORMATION", "IS_ID", "IS_ORDER_BY", "IS_PARTITION",
                    "IS_FILTER_DATE"])
        for t in tables:
            for i, c in enumerate(t.cols, 1):
                w.writerow([t.name, c.name, str(i), c.kind, c.dsl,
                            "Y" if c.is_id else "", "Y" if c.is_id else "",
                            "Y" if c.partition else "", "Y" if c.recency else ""])


def month_add(d, months):
    m = d.year * 12 + d.month - 1 + months
    return m // 12, m % 12 + 1


def cutoff_for(anchor, delay):
    y, m = month_add(anchor, delay)
    return y * 100 + m


class Clock:
    """Update timestamps that strictly increase from day to day."""

    def __init__(self, anchor, rng):
        self.base = datetime(anchor.year, anchor.month, anchor.day) - timedelta(days=30)
        self.rng = rng

    def ts(self, day):
        t = self.base + timedelta(days=day, seconds=self.rng.randrange(80000))
        return t.strftime("%Y-%m-%d %H:%M:%S")

    def stale(self):
        """Older than every ts(): a re-sent key never ties with its update."""
        return (self.base - timedelta(days=1)).strftime("%Y-%m-%d %H:%M:%S")


# ------------------------------------------------------------ ingest_daily

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["automobile", "BUILDING", "furniture", "MACHINERY", "household"]


def money(rng, lo, hi):
    return f"{rng.randrange(lo * 100, hi * 100) / 100:.2f}"


def daily_tables():
    orders = Table("ORDERS_M", "orders", "incremental", [
        Col("order_id", "bigint", "o_orderkey", lambda r: to_int(r["o_orderkey"]), is_id=True),
        Col("cust_id", "bigint", "o_custkey", lambda r: to_int(r["o_custkey"])),
        Col("status", "string", "fn_transform_ClearString(o_orderstatus,$U)",
            lambda r: clear_string(r["o_orderstatus"], "U")),
        Col("total", "decimal(12,2)", "o_totalprice", lambda r: to_dec(r["o_totalprice"])),
        Col("order_date", "date", "o_orderdate", lambda r: to_date(r["o_orderdate"])),
        Col("priority_cls", "string",
            "fn_transform_Case_with_default(o_orderpriority,1-URGENT|2-HIGH->hot,3-MEDIUM->warm,$cold)",
            lambda r: case_default(r["o_orderpriority"],
                                   [({"1-URGENT", "2-HIGH"}, "hot"), ({"3-MEDIUM"}, "warm")], "cold")),
        Col("upd_ts", "timestamp", "fn_transform_Datetime(o_updated)",
            lambda r: to_ts(r["o_updated"]), recency=True),
    ])
    customer = Table("CUSTOMER_M", "customer", "incremental", [
        Col("cust_id", "bigint", "c_custkey", lambda r: to_int(r["c_custkey"]), is_id=True),
        Col("name", "string", "fn_transform_ClearString(c_name)", lambda r: clear_string(r["c_name"])),
        Col("nation", "int", "c_nationkey", lambda r: to_int(r["c_nationkey"]), partition=True),
        Col("acctbal", "decimal(12,2)", "c_acctbal", lambda r: to_dec(r["c_acctbal"])),
        Col("segment", "string", "upper(c_mktsegment)",
            lambda r: None if r["c_mktsegment"] is None else r["c_mktsegment"].upper()),
        Col("upd_ts", "timestamp", "fn_transform_Datetime(c_updated)",
            lambda r: to_ts(r["c_updated"]), recency=True),
    ], stable=True)
    lineitem = Table("LINEITEM_T", "lineitem", "incremental", [
        Col("order_id", "bigint", "l_orderkey", lambda r: to_int(r["l_orderkey"]), is_id=True),
        Col("line_no", "int", "l_linenumber", lambda r: to_int(r["l_linenumber"]), is_id=True),
        Col("part_id", "bigint", "l_partkey", lambda r: to_int(r["l_partkey"])),
        Col("supp_id", "bigint", "l_suppkey", lambda r: to_int(r["l_suppkey"])),
        Col("qty", "decimal(12,2)", "l_quantity", lambda r: to_dec(r["l_quantity"])),
        Col("price", "decimal(12,2)", "l_extendedprice", lambda r: to_dec(r["l_extendedprice"])),
        Col("status", "string", "fn_transform_ByteMagic(l_linestatus,$N)",
            lambda r: byte_magic(r["l_linestatus"], "N")),
        Col("ship_date", "date", "fn_transform_DateMagic(l_shipord,yyyy-MM-dd,1900-01-01)",
            lambda r: date_magic(r["l_shipord"])),
        Col("processperiod", "string", "fn_transform_PeriodMagic(l_year,l_month)",
            lambda r: period_magic(r["l_year"], r["l_month"]), partition=True),
        Col("upd_ts", "timestamp", "fn_transform_Datetime(l_updated)",
            lambda r: to_ts(r["l_updated"]), recency=True),
    ], ttype="t", delay=-2)
    payments = Table("PAYMENTS_T", "payments", "incremental", [
        Col("pay_id", "bigint", "pay_id", lambda r: to_int(r["pay_id"]), is_id=True),
        Col("order_id", "bigint", "pay_order", lambda r: to_int(r["pay_order"])),
        Col("amount", "decimal(12,2)", "pay_amount", lambda r: to_dec(r["pay_amount"])),
        Col("method", "string", "fn_transform_Case_with_default(pay_method,CC->card,DB|TR->bank,$other)",
            lambda r: case_default(r["pay_method"], [({"CC"}, "card"), ({"DB", "TR"}, "bank")], "other")),
        Col("processperiod", "string", "fn_transform_PeriodMagic(pay_year,pay_month)",
            lambda r: period_magic(r["pay_year"], r["pay_month"]), partition=True),
        Col("upd_ts", "timestamp", "fn_transform_Datetime(pay_updated)",
            lambda r: to_ts(r["pay_updated"]), recency=True),
    ], ttype="t", delay=-1)
    supplier = Table("SUPPLIER_D", "supplier", "full", [
        Col("supp_id", "bigint", "s_suppkey", lambda r: to_int(r["s_suppkey"]), is_id=True),
        Col("name", "string", "fn_transform_ClearString(s_name,$none)",
            lambda r: clear_string(r["s_name"], "none")),
        Col("nation_id", "int", "s_nationkey", lambda r: to_int(r["s_nationkey"])),
        Col("acctbal", "decimal(12,2)", "s_acctbal", lambda r: to_dec(r["s_acctbal"])),
    ])
    part = Table("PART_D", "part", "full", [
        Col("part_id", "bigint", "p_partkey", lambda r: to_int(r["p_partkey"]), is_id=True),
        Col("label", "string", "fn_transform_ClearString(fn_transform_Concatenate(p_name,p_brand))",
            lambda r: clear_string(concat(r["p_name"], r["p_brand"]))),
        Col("size", "int", "p_size", lambda r: to_int(r["p_size"])),
        Col("price", "decimal(12,2)", "p_retailprice", lambda r: to_dec(r["p_retailprice"])),
    ])
    # planted bad spec: one column reads a missing raw column, one calls an
    # unknown DSL function -> both quarantined, status WARNING
    bad = Table("SUPPLIER_BAD", "supplier", "full", [
        Col("supp_id", "bigint", "s_suppkey", lambda r: to_int(r["s_suppkey"]), is_id=True),
        Col("name", "string", "fn_transform_ClearString(s_name)", lambda r: clear_string(r["s_name"])),
        Col("bad_col", "string", "fn_transform_ClearString(s_no_such_col)", None, bad=True),
        Col("bad_fn", "string", "fn_transform_NoSuchFunction(s_name)", None, bad=True),
    ])
    retired = Table("REGION_OLD", "region_old", "full", [
        Col("region_id", "int", "r_regionkey", lambda r: to_int(r["r_regionkey"]), is_id=True),
    ], active=False)
    wide = wide_table("WIDE_D", 100)
    return [wide, orders, customer, lineitem, payments, supplier, part, bad, retired]


class DailyWorld:
    """Source-system state for ingest_daily, advanced one day at a time."""

    def __init__(self, seed, anchor, scale):
        self.rng = rng = random.Random(seed)
        self.anchor = anchor
        self.clock = Clock(anchor, rng)
        self.n_orders = int(20000 * scale)
        self.n_cust = int(2000 * scale)
        self.n_part = int(2000 * scale)
        self.n_supp = max(20, int(200 * scale))
        self.supplier = {k: self.new_supplier(k) for k in range(1, self.n_supp + 1)}
        self.part = {k: self.new_part(k) for k in range(1, self.n_part + 1)}
        self.customer = {k: self.new_customer(k, 0) for k in range(1, self.n_cust + 1)}
        self.orders = {}
        self.lines = {}
        self.payments = {}
        self.next_order = 1
        self.next_pay = 1
        for _ in range(self.n_orders):
            self.new_order(0, self.rng.randrange(24))
        self.wide = WideSource(rng, self.clock, 400)

    def new_supplier(self, k):
        r = self.rng
        return {"s_suppkey": str(k), "s_name": None if k % 17 == 0 else f"Supplier#{k:09d}",
                "s_nationkey": str(r.randrange(25)), "s_acctbal": money(r, -999, 9999)}

    def new_part(self, k):
        r = self.rng
        return {"p_partkey": str(k), "p_name": r.choice(["red", "blue", "small", "big"]) + " " +
                r.choice(["bolt", "widget", "ring", "gear"]),
                "p_brand": None if k % 29 == 0 else f"Brand#{r.randrange(1, 50)} ",
                "p_size": str(r.randrange(1, 50)), "p_retailprice": money(r, 900, 2000)}

    def new_customer(self, k, day):
        r = self.rng
        name = f"Customer#{k:09d}"
        return {"c_custkey": str(k), "c_name": f"  {name} " if k % 7 == 0 else name,
                "c_nationkey": str(r.randrange(25)), "c_acctbal": money(r, -999, 9999),
                "c_mktsegment": r.choice(SEGMENTS), "c_updated": self.clock.ts(day)}

    def period(self, back):
        return month_add(self.anchor, -back)

    def new_order(self, day, back):
        r = self.rng
        k = self.next_order
        self.next_order += 1
        y, m = self.period(back)
        od = date(y, m, 1) + timedelta(days=r.randrange(28))
        self.orders[k] = {
            "o_orderkey": str(k), "o_custkey": str(r.randrange(1, self.n_cust + 1)),
            "o_orderstatus": r.choice([" O", "F ", "P", "O", None]),
            "o_totalprice": money(r, 100, 400000), "o_orderdate": od.isoformat(),
            "o_orderpriority": r.choice(PRIORITIES), "o_updated": self.clock.ts(day)}
        null_period = k % 211 == 0
        for ln in range(1, r.randrange(2, 7)):
            self.lines[(k, ln)] = self.new_line(k, ln, y, m, od, day, null_period)
        if r.random() < 0.8:
            p = self.next_pay
            self.next_pay += 1
            self.payments[p] = {
                "pay_id": str(p), "pay_order": str(k), "pay_amount": money(self.rng, 10, 9000),
                "pay_method": r.choice(["CC", "DB", "TR", "XX", None]),
                "pay_year": str(y), "pay_month": str(m), "pay_updated": self.clock.ts(day),
                "_p": y * 100 + m}
        return k

    def new_line(self, k, ln, y, m, od, day, null_period):
        r = self.rng
        ship = od + timedelta(days=r.randrange(20))
        return {"l_orderkey": str(k), "l_linenumber": str(ln),
                "l_partkey": str(r.randrange(1, self.n_part + 1)),
                "l_suppkey": str(r.randrange(1, self.n_supp + 1)),
                "l_quantity": str(r.randrange(1, 51)), "l_extendedprice": money(r, 900, 90000),
                "l_linestatus": r.choice(["O", "F", "T"]),
                "l_shipord": r.choice(["0", "x12"]) if r.random() < 0.02 else str(ship.toordinal()),
                "l_year": None if null_period else str(y), "l_month": str(m),
                "l_updated": self.clock.ts(day), "_p": 0 if null_period else y * 100 + m}

    def in_window(self, row, delay):
        return row["_p"] >= cutoff_for(self.anchor, delay)

    def advance(self, day):
        """Source changes for one incremental day; returns the incremental
        extracts of the master tables (inserts + key updates, with some keys
        sent twice so the stage dedup has work)."""
        r = self.rng
        n_new = max(5, self.n_orders // 80)
        order_batch = []
        for k in r.sample(range(1, self.next_order), n_new):
            o = self.orders[k]
            o["o_orderstatus"] = r.choice(["F", " F", "P "])
            o["o_totalprice"] = money(r, 100, 400000)
            o["o_updated"] = self.clock.ts(day)
            order_batch.append(dict(o))
        for _ in range(n_new):
            k = self.new_order(day, 0)
            order_batch.append(dict(self.orders[k]))
        for o in r.sample(order_batch, len(order_batch) // 10):
            older = dict(o)
            older["o_updated"] = self.clock.stale()
            older["o_totalprice"] = money(r, 1, 99)
            order_batch.append(older)
        r.shuffle(order_batch)
        cust_batch = []
        for k in r.sample(sorted(self.customer), max(3, self.n_cust // 50)):
            c = self.customer[k]
            c["c_acctbal"] = money(r, -999, 9999)
            c["c_updated"] = self.clock.ts(day)
            cust_batch.append(dict(c))
        for _ in range(max(2, self.n_cust // 100)):
            k = len(self.customer) + 1
            self.customer[k] = self.new_customer(k, day)
            cust_batch.append(dict(self.customer[k]))
        # transactional sources: deletions and updates inside the open window
        window = [k for k, v in self.lines.items() if self.in_window(v, -2)]
        for k in r.sample(window, len(window) // 30):
            del self.lines[k]
        for k in r.sample(sorted(set(window) & set(self.lines)), len(window) // 20):
            self.lines[k]["l_quantity"] = str(r.randrange(1, 51))
            self.lines[k]["l_updated"] = self.clock.ts(day)
        pwin = [k for k, v in self.payments.items() if self.in_window(v, -1)]
        for k in r.sample(pwin, len(pwin) // 25):
            self.payments[k]["pay_amount"] = money(r, 10, 9000)
            self.payments[k]["pay_updated"] = self.clock.ts(day)
        for k in r.sample(sorted(self.supplier), max(2, self.n_supp // 50)):
            self.supplier[k]["s_acctbal"] = money(r, -999, 9999)
        for k in r.sample(sorted(self.part), max(2, self.n_part // 50)):
            self.part[k]["p_retailprice"] = money(r, 900, 2000)
        return order_batch, cust_batch

    def window_batch(self, rows, delay, ukey):
        """A transactional reload: every open-window row of the source, plus
        stale copies of some keys that the stage dedup must drop."""
        batch = [dict(v) for v in rows.values() if self.in_window(v, delay)]
        for v in self.rng.sample(batch, len(batch) // 50):
            older = dict(v)
            older[ukey] = self.clock.stale()
            batch.append(older)
        return batch


WIDE_RAW = (["k", "u", "p1", "e1", "e2", "f1"] + [f"s{i}" for i in range(1, 7)] +
            [f"c{i}" for i in range(1, 5)] + [f"o{i}" for i in range(1, 4)] +
            [f"t{i}" for i in range(1, 4)] + [f"n{i}" for i in range(1, 4)])


HEADERS = {
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
               "o_orderpriority", "o_updated"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment", "c_updated"],
    "lineitem": ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
                 "l_extendedprice", "l_linestatus", "l_shipord", "l_year", "l_month", "l_updated"],
    "payments": ["pay_id", "pay_order", "pay_amount", "pay_method", "pay_year", "pay_month",
                 "pay_updated"],
    "wide_d_src": WIDE_RAW,
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_size", "p_retailprice"],
}


def gen_daily(run, seed, anchor, days, scale):
    """Raw zone + metadata + expected per-day states for ingest_daily."""
    tables = daily_tables()
    world = DailyWorld(seed, anchor, scale)
    raw_root = f"{run}/raw"
    write_meta(f"{run}/meta", tables)
    by_source = {}
    for t in tables:
        if t.active:
            by_source.setdefault(t.source, []).append(t)
    expected, raw_bytes, raw_rows = [], [], []
    for d in range(days):
        day = anchor + timedelta(days=d)
        if d == 0:
            orders = [dict(v) for v in world.orders.values()]
            cust = [dict(v) for v in world.customer.values()]
        else:
            orders, cust = world.advance(d)
        batches = {
            "orders": orders, "customer": cust,
            "lineitem": ([dict(v) for v in world.lines.values()] if d == 0 else
                         world.window_batch(world.lines, -2, "l_updated")),
            "payments": ([dict(v) for v in world.payments.values()] if d == 0 else
                         world.window_batch(world.payments, -1, "pay_updated")),
            "wide_d_src": world.wide.batch(d),
            "supplier": [dict(v) for v in world.supplier.values()],
            "part": [dict(v) for v in world.part.values()],
        }
        nbytes = nrows = 0
        for src, rows in batches.items():
            files = max(1, min(4, len(rows) // 4000))
            b = write_raw(raw_root, src, day, HEADERS[src], rows, files)
            for t in by_source[src]:
                t.apply(rows, cutoff_for(anchor, t.delay))
                nbytes += b
                nrows += len(rows)
        raw_bytes.append(nbytes)
        raw_rows.append(nrows)
        expected.append({t.name: t.expected.state() for t in tables if t.active})
    statuses = {t.name: ("WARNING" if t.quarantined() else "SUCCEEDED", t.quarantined())
                for t in tables if t.active}
    return {"tables": tables, "expected": expected, "statuses": statuses,
            "raw_bytes": raw_bytes, "raw_rows": raw_rows}


# ---------------------------------------------------- the wide DSL table

def wide_templates():
    """DSL column templates: (prefix, type, dsl(a, b), model(row, a, b)).
    `a`/`b` pick raw columns so the 200 columns differ."""
    S = lambda i: f"s{i % 6 + 1}"
    C = lambda i: f"c{i % 4 + 1}"
    O = lambda i: f"o{i % 3 + 1}"
    T = lambda i: f"t{i % 3 + 1}"
    E = lambda i: f"e{i % 2 + 1}"
    N = lambda i: f"n{i % 3 + 1}"
    rules = [({"A", "B"}, "ab"), ({"C"}, "c"), ({"D", "E"}, "de")]
    return [
        ("cs", "string", lambda i: f"fn_transform_ClearString({S(i)})",
         lambda r, i: clear_string(r[S(i)])),
        ("csd", "string", lambda i: f"fn_transform_ClearString({S(i)},$none)",
         lambda r, i: clear_string(r[S(i)], "none")),
        ("case", "string",
         lambda i: f"fn_transform_Case_with_default({C(i)},A|B->ab,C->c,D|E->de,$other)",
         lambda r, i: case_default(r[C(i)], rules, "other")),
        ("dm", "date", lambda i: f"fn_transform_DateMagic({O(i)},yyyy-MM-dd,1900-01-01)",
         lambda r, i: date_magic(r[O(i)])),
        ("dt", "timestamp", lambda i: f"fn_transform_Datetime({T(i)})",
         lambda r, i: to_ts(r[T(i)])),
        ("pm", "string", lambda i: f"fn_transform_PeriodMagic(p1,{E(i)})",
         lambda r, i: period_magic(r["p1"], r[E(i)])),
        ("bm", "string", lambda i: "fn_transform_ByteMagic(f1,$N)",
         lambda r, i: byte_magic(r["f1"], "N")),
        ("cc", "string", lambda i: f"fn_transform_Concatenate({S(i)},{C(i)})",
         lambda r, i: concat(r[S(i)], r[C(i)])),
        ("ncs", "string",
         lambda i: f"fn_transform_ClearString(fn_transform_Concatenate({S(i)},{S(i + 1)}))",
         lambda r, i: clear_string(concat(r[S(i)], r[S(i + 1)]))),
        ("ncp", "string",
         lambda i: f"fn_transform_Concatenate(fn_transform_ClearString({S(i)}),fn_transform_PeriodMagic(p1,{E(i)}))",
         lambda r, i: concat(clear_string(r[S(i)]), period_magic(r["p1"], r[E(i)]))),
        ("dec", "decimal(12,2)", lambda i: N(i), lambda r, i: to_dec(r[N(i)])),
        ("up", "string", lambda i: f"upper(trim({S(i)}))",
         lambda r, i: None if r[S(i)] is None else r[S(i)].strip(" ").upper()),
        ("len", "int", lambda i: f"length({S(i)})",
         lambda r, i: None if r[S(i)] is None else len(r[S(i)])),
    ]



def wide_table(name, n_cols):
    cols = [Col("k", "bigint", "k", lambda r: to_int(r["k"]), is_id=True),
            Col("upd", "timestamp", "fn_transform_Datetime(u)", lambda r: to_ts(r["u"]), recency=True),
            Col("load_ts", "timestamp", "fn_transform_Datetime()", lambda r: GRAFT_NOW_LIMA)]
    tmpl = wide_templates()
    i = 0
    while len(cols) < n_cols:
        prefix, kind, dsl, fn = tmpl[i % len(tmpl)]
        cols.append(Col(f"{prefix}_{i}", kind, dsl(i), (lambda f, j: lambda r: f(r, j))(fn, i)))
        i += 1
    return Table(name, name.lower() + "_src", "full", cols)


def wide_row(rng, k, clock, day):
    words = ["alpha", "beta", "gamma", "delta", "omega", "sigma"]

    def s():
        if rng.random() < 0.04:
            return None
        w = rng.choice(words) + str(rng.randrange(100))
        return f"  {w} " if rng.random() < 0.3 else w

    r = {"k": str(k), "u": clock.ts(day),
         "p1": None if rng.random() < 0.05 else str(rng.choice([2023, 2024, 2025])),
         "e1": str(rng.randrange(1, 13)), "e2": str(rng.randrange(1, 13)),
         "f1": rng.choice(["T", "F", "X", None])}
    for i in range(1, 7):
        r[f"s{i}"] = s()
    for i in range(1, 5):
        r[f"c{i}"] = rng.choice(["A", "B", "C", "D", "E", "F", None])
    for i in range(1, 4):
        r[f"o{i}"] = (rng.choice(["42", "abc", None]) if rng.random() < 0.05
                      else str(rng.randrange(738000, 740000)))
        r[f"t{i}"] = ("n/a" if rng.random() < 0.03 else
                      f"2024-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d} "
                      f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}")
        r[f"n{i}"] = money(rng, -500, 50000)
    return r


class WideSource:
    """Source of the wide table: a full snapshot each day in which a few
    percent of rows changed, plus stale copies of some keys (dedup must keep
    the newer row)."""

    def __init__(self, rng, clock, n_rows):
        self.rng, self.clock, self.n = rng, clock, n_rows
        self.rows = {k: wide_row(rng, k, clock, 0) for k in range(1, n_rows + 1)}

    def batch(self, day):
        if day > 0:
            for k in self.rng.sample(range(1, self.n + 1), self.n // 25):
                self.rows[k] = wide_row(self.rng, k, self.clock, day)
        batch = list(self.rows.values())
        for k in self.rng.sample(range(1, self.n + 1), self.n // 100):
            older = dict(self.rows[k])
            older["u"] = self.clock.stale()
            older["s1"] = "stale"
            batch.append(older)
        return batch


# ----------------------------------------------------------- catalog_loops

WORDS = ("a the data row table scan join merge batch window stream spark filter group agg "
         "sort hash key value line part order customer query column vector small big fast "
         "slow").split()


def gen_catalog(data_dir, seed, n_orders=1500, n_part=200, n_supp=10, n_docs=500):
    """TPC-H-shaped parquet inputs for the catalog queries (lineitem, orders,
    part, supplier, documents), with the fixture schemas the queries read."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    os.makedirs(data_dir, exist_ok=True)
    base = datetime(1995, 1, 1)
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate"]}
    od = {k: [] for k in ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                          "o_orderdate", "o_orderpriority"]}
    for ok in range(n_orders):
        odate = base + timedelta(days=rng.randrange(2500))
        od["o_orderkey"].append(ok)
        od["o_custkey"].append(rng.randrange(n_orders // 10))
        od["o_orderstatus"].append(rng.choice("OFP"))
        od["o_totalprice"].append(rng.randrange(100000, 50000000) / 100)
        od["o_orderdate"].append(odate)
        od["o_orderpriority"].append(rng.choice(PRIORITIES))
        for ln in range(1, rng.randrange(2, 9)):
            li["l_orderkey"].append(ok)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(float(rng.randrange(1, 51)))
            li["l_extendedprice"].append(rng.randrange(90000, 10000000) / 100)
            li["l_discount"].append(rng.randrange(11) / 100)
            li["l_tax"].append(rng.randrange(9) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("OF"))
            li["l_shipdate"].append(odate + timedelta(days=rng.randrange(1, 120)))
    ts = pa.timestamp("us")
    pq.write_table(pa.table({
        "l_orderkey": pa.array(li["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(li["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(li["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
        "l_quantity": pa.array(li["l_quantity"], pa.float64()),
        "l_extendedprice": pa.array(li["l_extendedprice"], pa.float64()),
        "l_discount": pa.array(li["l_discount"], pa.float64()),
        "l_tax": pa.array(li["l_tax"], pa.float64()),
        "l_returnflag": pa.array(li["l_returnflag"], pa.string()),
        "l_linestatus": pa.array(li["l_linestatus"], pa.string()),
        "l_shipdate": pa.array(li["l_shipdate"], ts)}), f"{data_dir}/lineitem.parquet")
    pq.write_table(pa.table({
        "o_orderkey": pa.array(od["o_orderkey"], pa.int64()),
        "o_custkey": pa.array(od["o_custkey"], pa.int64()),
        "o_orderstatus": pa.array(od["o_orderstatus"], pa.string()),
        "o_totalprice": pa.array(od["o_totalprice"], pa.float64()),
        "o_orderdate": pa.array(od["o_orderdate"], ts),
        "o_orderpriority": pa.array(od["o_orderpriority"], pa.string())}),
        f"{data_dir}/orders.parquet")
    pq.write_table(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([rng.choice(["red", "blue", "small"]) + " " + rng.choice(["bolt", "ring"])
                            for _ in range(n_part)], pa.string()),
        "p_brand": pa.array([f"Brand#{rng.randrange(1, 25)}" for _ in range(n_part)], pa.string()),
        "p_type": pa.array([rng.choice(["ECONOMY", "SMALL", "LARGE"]) for _ in range(n_part)], pa.string()),
        "p_size": pa.array([rng.randrange(1, 50) for _ in range(n_part)], pa.int32()),
        "p_retailprice": pa.array([900 + k / 10 for k in range(n_part)], pa.float64())}),
        f"{data_dir}/part.parquet")
    pq.write_table(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)], pa.string()),
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": pa.array([rng.randrange(-99900, 999900) / 100 for _ in range(n_supp)], pa.float64())}),
        f"{data_dir}/supplier.parquet")
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randrange(20, 80))))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(["en", "en", "es", "de", "fr", "zh"]) for _ in range(n_docs)], pa.string()),
        "source": pa.array([f"src{rng.randrange(20)}" for _ in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{data_dir}/documents.parquet")
