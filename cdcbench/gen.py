"""Seeded input generator for the CDC workloads.

Builds MySQL binlog v4 bytes (FORMAT_DESCRIPTION, TABLE_MAP with column
names, WRITE/UPDATE/DELETE_ROWS v2, XID, ROTATE) from rows of the sf0.1
tables, and computes, independently of the system under test, what the
receiver must get: one `{before, after, source}` envelope per kept row
change (inserts and updates on routed tables; deletes are dropped by the
pipeline's faithful mode), with every column rendered as the string the
row image carries.
"""
import decimal
import functools
import json
import struct

import duckdb
import numpy as np

ROUTES = {"orders": "grp_sales", "customer": "grp_dim", "events": "grp_events"}

# MySQL column type codes and their metadata bytes.
LONG, DOUBLE, LONGLONG, DATE, VARCHAR, DATETIME2 = 3, 5, 8, 10, 15, 18

# (column, kind, varchar max length); kinds: LL LONG D S DATE DT6
SCHEMAS = {
    "orders": (("o_orderkey", "LL", 0), ("o_custkey", "LL", 0),
               ("o_orderstatus", "S", 1), ("o_totalprice", "D", 0),
               ("o_orderdate", "DATE", 0), ("o_orderpriority", "S", 15)),
    "customer": (("c_custkey", "LL", 0), ("c_name", "S", 25),
                 ("c_nationkey", "L", 0), ("c_acctbal", "D", 0),
                 ("c_mktsegment", "S", 10)),
    "events": (("event_id", "LL", 0), ("ts", "DT6", 0), ("user_id", "LL", 0),
               ("event_type", "S", 32), ("value", "D", 0), ("props", "S", 64)),
}
TABLE_IDS = {"orders": 101, "customer": 102, "events": 103}
DUE_COL = ("bench_due_us", "LL", 0)  # open-loop only: the event's due time

TS = 1700000000
SERVER_ID = 1
WRITE, UPDATE, DELETE = 30, 31, 32


# ---------------------------------------------------------------- encoding

def event(tpe, body, log_pos=0, ts=TS):
    size = 19 + len(body)
    return struct.pack("<IBIIIH", ts, tpe, SERVER_ID, size, log_pos, 0) + body


def lenenc(n):
    if n < 251:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + struct.pack("<H", n)
    return b"\xfd" + struct.pack("<I", n)[:3]


def fde_body():
    # binlog version, server version (50 bytes), create ts, header length,
    # post-header lengths, checksum algorithm (0 = none), checksum slot
    return (struct.pack("<H", 4) + b"8.0.99-bench".ljust(50, b"\0") +
            struct.pack("<I", 0) + bytes([19]) + bytes(41) + bytes([0]) + bytes(4))


def rotate_body(name, pos=4):
    return struct.pack("<Q", pos) + name.encode()


def xid_body(xid):
    return struct.pack("<Q", xid)


def _type_meta(kind, maxlen):
    if kind == "LL":
        return LONGLONG, b""
    if kind == "L":
        return LONG, b""
    if kind == "D":
        return DOUBLE, bytes([8])
    if kind == "S":
        return VARCHAR, struct.pack("<H", maxlen)
    if kind == "DATE":
        return DATE, b""
    if kind == "DT6":
        return DATETIME2, bytes([6])
    raise ValueError(kind)


@functools.lru_cache(maxsize=None)
def table_map_body(table, schema):
    types, meta = b"", b""
    for _, kind, maxlen in schema:
        t, m = _type_meta(kind, maxlen)
        types += bytes([t])
        meta += m
    n = len(schema)
    names = b"".join(lenenc(len(c)) + c.encode() for c, _, _ in schema)
    return (struct.pack("<Q", TABLE_IDS[table])[:6] + struct.pack("<H", 1) +
            bytes([5]) + b"bench\0" + bytes([len(table)]) + table.encode() + b"\0" +
            lenenc(n) + types + lenenc(len(meta)) + meta +
            bytes((n + 7) // 8) +          # null-allowed bitmap
            bytes([4]) + lenenc(len(names)) + names)  # COLUMN_NAME metadata


def rows_body(tpe, table, n_cols, images):
    bm = b"\xff" * ((n_cols + 7) // 8)
    head = (struct.pack("<Q", TABLE_IDS[table])[:6] + struct.pack("<HH", 0, 2) +
            lenenc(n_cols) + bm + (bm if tpe == UPDATE else b""))
    return head + b"".join(images)


def civil(days):
    """Days since 1970-01-01 -> (y, m, d) (proleptic Gregorian)."""
    z = days + 719468
    era = z // 146097
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + 3 if mp < 10 else mp - 9
    return (y + 1 if m <= 2 else y), m, d


def java_double_str(v):
    """`Double.toString`: plain in [1e-3, 1e7), else `d.dddE<exp>`."""
    if v == 0:
        return "0.0"
    if 1e-3 <= abs(v) < 1e7:
        r = repr(float(v))
        return r if "." in r else r + ".0"
    sign, digits, exp = decimal.Decimal(repr(abs(v))).normalize().as_tuple()
    ds = "".join(map(str, digits))
    return ("-" if v < 0 else "") + ds[0] + "." + (ds[1:] or "0") + \
        "E" + str(exp + len(ds) - 1)


def encode_value(kind, v):
    """Bytes of one non-null column value and its rendered string."""
    if kind == "LL":
        return struct.pack("<q", int(v)), str(int(v))
    if kind == "L":
        return struct.pack("<i", int(v)), str(int(v))
    if kind == "D":
        return struct.pack("<d", float(v)), java_double_str(float(v))
    if kind == "S":
        b = str(v).encode()
        return bytes([len(b)]) + b, str(v)
    if kind == "DATE":  # v: micros since epoch
        y, m, d = civil(int(v) // 86_400_000_000)
        return struct.pack("<I", (y << 9) | (m << 5) | d)[:3], f"{y:04d}-{m:02d}-{d:02d}"
    if kind == "DT6":
        us = int(v)
        days, rem = divmod(us, 86_400_000_000)
        y, m, d = civil(days)
        secs, frac = divmod(rem, 1_000_000)
        hh, mi, ss = secs // 3600, secs // 60 % 60, secs % 60
        packed = (((y * 13 + m) << 22) | (d << 17) | (hh << 12) | (mi << 6) | ss) \
            + 0x8000000000
        return (packed.to_bytes(5, "big") + frac.to_bytes(3, "big"),
                f"{y:04d}-{m:02d}-{d:02d}T{hh:02d}:{mi:02d}:{ss:02d}.{frac:06d}")
    raise ValueError(kind)


def image(schema, row):
    """(row-image bytes, {column: rendered string}) for one full row."""
    out = bytearray(bytes((len(schema) + 7) // 8))  # null bitmap: no nulls
    rendered = {}
    for (name, kind, _), v in zip(schema, row):
        b, s = encode_value(kind, v)
        out += b
        rendered[name] = s
    return bytes(out), rendered


def canon(obj):
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))


# ---------------------------------------------------------------- row data

def load_table(sf_dir, table):
    cols = [c for c, _, _ in SCHEMAS[table]]
    con = duckdb.connect()
    sel = ", ".join(
        f"epoch_us({c})" if k in ("DATE", "DT6") else c
        for c, k, _ in SCHEMAS[table])
    arrs = con.execute(f"SELECT {sel} FROM read_parquet('{sf_dir}/{table}.parquet')"
                       ).fetchnumpy()
    con.close()
    return [arrs[k] for k in arrs.keys()][:len(cols)]


def _modify(table, row):
    """The after-image of an update: one business field changes."""
    row = list(row)
    if table == "orders":
        row[2] = {"O": "F", "F": "P"}.get(row[2], "O")
    elif table == "customer":
        row[4] = "AUTOMOBILE" if row[4] != "AUTOMOBILE" else "MACHINERY"
    else:
        row[2] = int(row[2]) + 1
    return row


class Spool:
    """Rotating binlog directory writer (`mysql-bin.NNNNNN`)."""

    def __init__(self, out_dir, max_bytes):
        self.dir, self.max = out_dir, max_bytes
        self.n, self.f, self.pos = 0, None, 0
        self._open()

    def _name(self, n):
        return f"mysql-bin.{n:06d}"

    def _open(self):
        self.n += 1
        self.f = open(f"{self.dir}/{self._name(self.n)}", "wb")
        self.f.write(b"\xfebin")
        self.pos = 4
        self.append(15, fde_body())

    def append(self, tpe, body):
        ev = event(tpe, body, self.pos + 19 + len(body))
        self.f.write(ev)
        self.pos += len(ev)

    def commit(self):
        if self.pos >= self.max:
            self.append(4, rotate_body(self._name(self.n + 1)))
            self.f.close()
            self._open()

    def close(self):
        self.f.close()


class Ledger:
    """What the generator expects the receiver to get."""

    def __init__(self):
        self.generated = self.unrouted = self.dropped_deletes = 0
        self.kept = []  # [group, canonical envelope]

    def add(self, table, tpe, before, after):
        self.generated += 1
        if table not in ROUTES:
            self.unrouted += 1
        elif tpe == DELETE:
            self.dropped_deletes += 1
        else:
            env = {"before": before, "after": after, "source": {"table": table}}
            self.kept.append([ROUTES[table], canon(env)])

    def dump(self, path, **extra):
        with open(path, "w") as f:
            json.dump(dict(generated=self.generated, unrouted=self.unrouted,
                           dropped_deletes=self.dropped_deletes, kept=self.kept,
                           **extra), f)


def single_row_txns(sf_dir, rng, n, due_us=None):
    """n single-row transactions on the routed tables, op mix ~70/20/10.
    Each transaction picks its table uniformly: no table's share of the
    changes is given, and equal shares keep the three delivery groups the
    same size, so no one group's size sets the delivery rate. With
    `due_us`, every image leads with the event's due time.

    Yields (table, rows-event type, schema, rows body, before, after)."""
    data = {t: load_table(sf_dir, t) for t in ROUTES}
    tables = rng.choice(list(ROUTES), size=n)
    ops = rng.choice([WRITE, UPDATE, DELETE], size=n, p=[0.7, 0.2, 0.1])
    for i in range(n):
        t, tpe = str(tables[i]), int(ops[i])
        cols = data[t]
        j = int(rng.integers(len(cols[0])))
        row = [c[j].item() if hasattr(c[j], "item") else c[j] for c in cols]
        new = _modify(t, row) if tpe == UPDATE else row
        schema = SCHEMAS[t]
        if due_us is not None:
            schema = (DUE_COL,) + schema
            row, new = [due_us[i]] + row, [due_us[i]] + new
        imgs, before, after = [], None, None
        if tpe in (UPDATE, DELETE):
            b, before = image(schema, row)
            imgs.append(b)
        if tpe in (WRITE, UPDATE):
            a, after = image(schema, new)
            imgs.append(a)
        yield t, tpe, schema, rows_body(tpe, t, len(schema), imgs), before, after


def write_catchup(sf_dir, out_dir, seed, n_events, max_file_bytes):
    """binlog_catchup: single-row OLTP transactions, all routed."""
    rng = np.random.default_rng(seed)
    spool, led = Spool(out_dir + "/spool", max_file_bytes), Ledger()
    for k, (t, tpe, schema, body, before, after) in enumerate(
            single_row_txns(sf_dir, rng, n_events)):
        spool.append(19, table_map_body(t, schema))
        spool.append(tpe, body)
        spool.append(16, xid_body(k + 1))
        spool.commit()
        led.add(t, tpe, before, after)
    spool.close()
    led.dump(out_dir + "/expect.json")
    return led


def write_openloop(sf_dir, out_dir, seed, rates, seconds, warmup_s=3.0):
    """repl_open_loop: the event stream a replication master serves, as
    records `<u64 due_us><u32 len><event>`; due_us = -1 marks the preamble
    sent at connect (FDE and one TABLE_MAP per routed table). Rates are
    served one after another, each for seconds/len(rates), at constant
    spacing, after `warmup_s` at the middle rate. Returns the ledger;
    expect.json also lists each phase's [start_us, end_us, rate]."""
    phase_us = int(seconds * 1e6 / len(rates))
    due, phases = [], []
    # warm-up seconds at the middle rate, delivered and checked but not
    # part of any phase's latency
    warm = int(warmup_s * 1e6)
    due.extend(int(i * 1e6 / rates[1]) for i in range(int(rates[1] * warmup_s)))
    for p, rate in enumerate(rates):
        start = warm + p * phase_us
        n = int(rate * phase_us / 1e6)
        due.extend(start + int(i * 1e6 / rate) for i in range(n))
        phases.append([start, start + phase_us, rate])
    rng = np.random.default_rng(seed)
    led = Ledger()
    pos = 4
    with open(out_dir + "/openloop.bin", "wb") as f:
        def put(d, tpe, body):
            nonlocal pos
            ev = event(tpe, body, pos + 19 + len(body))
            pos += len(ev)
            f.write(struct.pack("<qI", d, len(ev)) + ev)
        put(-1, 15, fde_body())
        for t in ROUTES:
            put(-1, 19, table_map_body(t, (DUE_COL,) + SCHEMAS[t]))
        for k, (t, tpe, schema, body, before, after) in enumerate(
                single_row_txns(sf_dir, rng, len(due), due_us=due)):
            put(due[k], 19, table_map_body(t, schema))
            put(due[k], tpe, body)
            put(due[k], 16, xid_body(k + 1))
            led.add(t, tpe, before, after)
    led.dump(out_dir + "/expect.json", phases=phases)
    return led
