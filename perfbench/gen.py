"""Seeded input generator for the CDC epoch benchmark.

A component of its own: it takes the workload and the seed, stages every
epoch's landing files (booking change-feed JSON, customer-dim CSV deltas)
before anything is timed, and writes the expected final state the checks
compare against. The program under test only ever sees the staged files,
which the benchmark moves into its landing directories one epoch at a time.

The data is shaped like a small TPC-H star: 10 000 bookings (orders) over
1 000 customers spread across the 25 TPC-H nations, the proportions of every
TPC-H scale factor. The same seed always produces byte-identical files.

Run on its own:  python3 perfbench/gen.py <workload> <seed> <out_dir>

The base load (customers and bookings before the first epoch) does not
depend on the seed, like a fixed TPC-H scale factor; it is built once and
cached under a name that hashes this file, so a change of the generator
builds it again. The epochs, and so the expected final state, depend on the
seed.
"""

import datetime as dt
import functools
import hashlib
import os
import pickle
import random
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
CITIES = ["Springfield", "Riverside", "Fairview", "Madison", "Georgetown",
          "Salem", "Franklin", "Clinton", "Greenville", "Bristol"]
CHANNELS = ["app", "web", "partner", "phone"]
DEVICES = ["iOS", "Android", "Windows", "macOS", "Linux"]
REASONS = ["weather", "illness", "travel_change", "price", "other"]
LANGS = ["English", "Spanish", "French", "German", "Hindi", "Japanese"]

N_BOOKINGS = 10_000
N_CUSTOMERS = 1_000

# Epochs staged per run. Warm-up epochs run in set-up, untimed; measured
# epochs run in the timed loop. Counts are fixed per workload so that the
# final table state, and the bytes stored for it, do not depend on speed.
WORKLOADS = {
    # kind, warm-up epochs, measured epochs
    "cdc_trickle": ("trickle", 2, 5),
    "cdc_bulk_stream": ("bulk", 2, 4),
}
TRICKLE_CHURN = 0.01
# feed rows of a bulk epoch: many times the 10 000 live keys, so that the work
# per feed row (JSON parse, latest version per key, joins) shows beside the
# fixed cost of an epoch: most of its executor CPU, a quarter to a third of
# its wall time
BULK_ROWS = (50_000, 100_000)
BULK_INSERT_SHARE = 0.1
DIM_DELTA_ROWS = 20
LOOKUP_KEYS = 200

EPOCH0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
DIM_HEADER = ("customer_id,first_name,last_name,email,phone_number,address,city,"
              "state,country,zip_code,signup_date,last_login,total_bookings,"
              "total_spent,preferred_language,referral_code,account_status")

UNIX_DAY = dt.date(1970, 1, 1).toordinal()
FACT_SCHEMA = pa.schema([
    ("booking_id", pa.string()), ("customer_id", pa.int32()),
    ("listing_id", pa.string()), ("status", pa.string()),
    ("booking_created_at", pa.date32()), ("checkin_date", pa.date32()),
    ("checkout_date", pa.date32()), ("nights", pa.int32()),
    ("lead_time_days", pa.int32()), ("guests_adults", pa.int32()),
    ("guests_children", pa.int32()), ("guests_infants", pa.int32()),
    ("price_nightly", pa.decimal128(12, 2)), ("cleaning_fee", pa.decimal128(12, 2)),
    ("total_amount", pa.decimal128(14, 2)), ("currency", pa.string()),
    ("country_code", pa.string()), ("city", pa.string()),
    ("channel", pa.string()), ("device_type", pa.string()),
    ("cancellation_ts", pa.timestamp("us", tz="UTC")),
    ("cancellation_reason", pa.string()),
    ("updated_at", pa.timestamp("us", tz="UTC")),
])
DIM_SCHEMA = pa.schema([
    ("customer_id", pa.int32()), ("first_name", pa.string()),
    ("last_name", pa.string()), ("email", pa.string()),
    ("phone_number", pa.string()), ("address", pa.string()),
    ("city", pa.string()), ("state", pa.string()), ("country", pa.string()),
    ("zip_code", pa.string()), ("signup_date", pa.date32()),
    ("last_login", pa.timestamp("us", tz="UTC")), ("total_bookings", pa.int32()),
    ("total_spent", pa.decimal128(14, 2)), ("preferred_language", pa.string()),
    ("referral_code", pa.string()), ("account_status", pa.string()),
])


def _iso(t):
    """A whole-second UTC time as 2025-01-01T00:00:01+00:00."""
    return "%sT%02d:%02d:%02d+00:00" % (_day(t.toordinal()), t.hour, t.minute, t.second)


@functools.lru_cache(maxsize=None)
def _day(ordinal):
    return dt.date.fromordinal(ordinal).isoformat()


@functools.lru_cache(maxsize=None)
def _stay(created, lead, nights):
    """Check-in and check-out dates of a stay, as ISO strings."""
    checkin = created.date() + dt.timedelta(days=lead)
    return checkin.isoformat(), (checkin + dt.timedelta(days=nights)).isoformat()


def _money(cents):
    return "%d.%02d" % divmod(cents, 100)


class Booking:
    """One accepted version of a booking, as the feed carries it: booking id,
    customer, listing, status, creation time, lead days, nights, guests,
    nightly price and fee in cents, currency, country code, city, channel,
    device, cancellation time and reason, update time, and whether the dates
    are planted the wrong way round."""

    def json(self):
        checkin, checkout = _stay(self.created, self.lead, self.nights)
        if self.bad_dates:
            checkin, checkout = checkout, checkin
        total = self.price * self.nights + self.fee
        bid = "null" if self.bid is None else '"%s"' % self.bid
        cts = "null" if self.cancel_ts is None else '"%s"' % _iso(self.cancel_ts)
        rsn = "null" if self.reason is None else '"%s"' % self.reason
        return (
            '{"id":%s,"booking_id":%s,"customer_id":"%d","listing_id":"%s",'
            '"status":"%s","booking_created_at":"%s","checkin_date":"%s",'
            '"checkout_date":"%s","nights":%d,"lead_time_days":%d,'
            '"guests_adults":%d,"guests_children":%d,"guests_infants":%d,'
            '"price_nightly":%s,"cleaning_fee":%s,"total_amount":%s,'
            '"currency":"%s","country_code":"%s","city":"%s","channel":"%s",'
            '"device_type":"%s","cancellation_ts":%s,"cancellation_reason":%s,'
            '"updated_at":"%s"}' % (
                bid, bid, self.cust, self.listing, self.status, _iso(self.created),
                checkin, checkout, self.nights, self.lead,
                self.adults, self.children, self.infants, _money(self.price),
                _money(self.fee), _money(total), self.currency, self.ccode,
                self.city, self.channel, self.device, cts, rsn, _iso(self.updated)))

    def fact_row(self):
        """Expected fact columns: days since 1970 for dates, cents for money,
        microseconds since 1970 for timestamps."""
        created = self.created.toordinal() - UNIX_DAY
        checkin = created + self.lead
        cts = None if self.cancel_ts is None else int(self.cancel_ts.timestamp()) * 1_000_000
        return (self.bid, self.cust, self.listing, self.status, created, checkin,
                checkin + self.nights, self.nights, self.lead, self.adults,
                self.children, self.infants, self.price, self.fee,
                self.price * self.nights + self.fee, self.currency, self.ccode,
                self.city, self.channel, self.device, cts, self.reason,
                int(self.updated.timestamp()) * 1_000_000)

    def copy(self):
        b = Booking()
        b.__dict__.update(self.__dict__)
        return b


def _new_booking(rng, idx, updated):
    b = Booking()
    b.bid = "BK%07d" % idx
    b.cust = rng.randint(1, N_CUSTOMERS)
    b.listing = "L%05d" % rng.randint(1, 20_000)
    r = rng.random()
    b.status = "Confirmed" if r < 0.8 else ("Cancelled" if r < 0.95 else "Pending")
    # bookings are created in key order, so high keys are the recent ones
    b.created = EPOCH0 - dt.timedelta(days=540) + dt.timedelta(
        seconds=idx * 300 + rng.randint(0, 299))
    b.lead = rng.randint(1, 120)
    b.nights = rng.randint(1, 14)
    b.adults, b.children, b.infants = rng.randint(1, 4), rng.randint(0, 3), rng.randint(0, 1)
    b.price = rng.randint(3_000, 90_000)
    b.fee = rng.randint(0, 15_000)
    b.currency = "USD" if rng.random() < 0.7 else "EUR"
    b.ccode = "C%02d" % rng.randint(0, 24)
    b.city = rng.choice(CITIES)
    b.channel = rng.choice(CHANNELS)
    b.device = rng.choice(DEVICES)
    b.cancel_ts = updated if b.status == "Cancelled" else None
    b.reason = rng.choice(REASONS) if b.status == "Cancelled" else None
    b.updated = updated
    b.bad_dates = False
    return b


def _update(rng, old, updated):
    """A later version of `old`: a cancellation or a change of stay."""
    b = old.copy()
    b.updated = updated
    r = rng.random()
    if r < 0.45 and b.status != "Cancelled":
        b.status, b.cancel_ts, b.reason = "Cancelled", updated, rng.choice(REASONS)
    elif r < 0.6:
        b.status, b.cancel_ts, b.reason = "Confirmed", None, None
    else:
        b.nights = rng.randint(1, 14)
        b.price = rng.randint(3_000, 90_000)
        b.adults = rng.randint(1, 4)
    return b


def _customer(rng, cid, country):
    last_login = EPOCH0 - dt.timedelta(seconds=rng.randint(0, 200 * 86400))
    signup = (EPOCH0 - dt.timedelta(days=rng.randint(200, 2000))).date()
    return [cid, "First%d" % cid, "Last%d" % rng.randint(1, 5000),
            "user%d@example.com" % cid, "555-%07d" % rng.randint(0, 9_999_999),
            "%d Main St, Apt %d" % (rng.randint(1, 9999), rng.randint(1, 99)),
            rng.choice(CITIES), "S%02d" % rng.randint(0, 49), country,
            "%05d" % rng.randint(0, 99_999), signup, last_login.replace(microsecond=0),
            rng.randint(0, 40), rng.randint(0, 2_000_000), rng.choice(LANGS),
            "ref-%d" % rng.randint(0, 99_999), rng.choice(["Active", "Inactive"])]


def _csv(row):
    out = []
    for i, v in enumerate(row):
        if isinstance(v, dt.datetime):
            v = v.strftime("%Y-%m-%d %H:%M:%S")
        elif i == 13:
            v = _money(v)
        v = str(v)
        out.append('"%s"' % v if "," in v else v)
    return ",".join(out)


def _column(values, typ):
    """One arrow column from plain ints/strings: decimals come in as their
    unscaled integer (cents), dates as days and timestamps as microseconds."""
    if pa.types.is_decimal(typ):
        raw = pa.array(values, pa.int64()).cast(pa.decimal128(38, 0))
        return pa.Array.from_buffers(typ, len(raw), raw.buffers())
    if pa.types.is_date32(typ):
        return pa.array(values, pa.int32()).cast(typ)
    if pa.types.is_timestamp(typ):
        return pa.array(values, pa.int64()).cast(typ)
    return pa.array(values, typ)


def _table(rows, schema):
    cols = list(zip(*rows))
    return pa.table([_column(list(c), f.type) for c, f in zip(cols, schema)], schema=schema)


def _dim_row(c):
    return (c[0], *c[1:10], c[10].toordinal() - UNIX_DAY,
            int(c[11].timestamp()) * 1_000_000, *c[12:])


class Epoch:
    def __init__(self, index, phase):
        self.index, self.phase = index, phase
        self.files = []        # (landing kind, relative path)
        self.stats = dict(landed_bytes=0, rows=0, accepted=0, rejects=0,
                          dups=0, inserts=0, updates=0, dim_rows=0)


def _write(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _bulk_rows(m):
    """Feed rows of the m-th measured bulk epoch (m < 1: a warm-up epoch, which
    only has to run the code paths, at half the small size). Measured epochs
    come in pairs of one size, the small size first, so a traced run, which
    traces every second epoch, traces one epoch of each pair and compares
    like with like."""
    lo, hi = BULK_ROWS
    if m < 1:
        return lo // 2
    return lo if (m - 1) // 2 % 2 == 0 else hi


def _plan_epoch(rng, kind, e, state, customers, next_key, bulk_rows=0):
    """Feed rows (in file order) and dim rows for one epoch, applied to
    `state`/`customers` as the reference semantics dictate: per key the
    latest `updated_at` in the batch wins, rejected rows are dropped."""
    t0 = EPOCH0 + dt.timedelta(days=e)
    keys = sorted(state)
    n = len(keys)
    stats = dict(rows=0, accepted=0, rejects=0, dups=0, inserts=0, updates=0)
    tick = [0]

    def stamp():
        tick[0] += 1
        return t0 + dt.timedelta(seconds=tick[0])

    if kind == "trickle":
        n_keys = int(n * TRICKLE_CHURN)
        chosen = set()
        while len(chosen) < int(n_keys * 0.85):
            # skewed toward recent bookings (high keys)
            chosen.add(keys[n - 1 - int(n * rng.random() ** 3)])
        versions = {k: 1 for k in sorted(chosen)}
        for _ in range(n_keys - len(chosen)):
            versions["BK%07d" % next_key] = 1
            next_key += 1
    else:
        # a backlog burst of `bulk_rows` rows: each draw picks a key uniformly
        # (a new one one time in ten) and adds 1-4 versions, so most keys
        # carry several versions
        versions = {}
        rows = 0
        while rows < bulk_rows:
            if rng.random() < BULK_INSERT_SHARE:
                k = "BK%07d" % next_key
                next_key += 1
            else:
                k = keys[rng.randrange(n)]
            nv = rng.randint(1, 4)
            versions[k] = versions.get(k, 0) + nv
            rows += nv

    events = []
    for k, nv in versions.items():
        stamps = [stamp() for _ in range(nv)]
        cur = state.get(k)
        for t in stamps:
            if cur is None:
                b = _new_booking(rng, int(k[2:]), t)
            else:
                b = _update(rng, cur, t)
            events.append(b)
            cur = b
        if k in state:
            stats["updates"] += 1
        else:
            stats["inserts"] += 1
        stats["dups"] += nv - 1
        state[k] = cur
    # out of order within the batch: the file order is shuffled
    rng.shuffle(events)
    # planted rejects: checkout before checkin on a live key, or a null key
    n_rej = max(2, len(events) // 100)
    for i in range(n_rej):
        src = state[keys[rng.randrange(n)]]
        b = src.copy()
        b.updated = stamp()
        if i % 2 == 0:
            b.bad_dates = True
        else:
            b.bid = None
        events.insert(rng.randrange(len(events) + 1), b)
    stats["rejects"] = n_rej
    stats["rows"] = len(events)
    stats["accepted"] = len(events) - n_rej
    feed = [b.json() for b in events]

    dim_rows = []
    if kind == "trickle":
        ids = rng.sample(range(1, len(customers) + 1), DIM_DELTA_ROWS - 2)
        for cid in sorted(ids):
            c = list(customers[cid])
            if rng.random() < 0.5:
                c[8] = rng.choice(NATIONS)
            c[11] = t0 + dt.timedelta(minutes=rng.randint(0, 59))
            c[12] += 1
            customers[cid] = c
            dim_rows.append(c)
        for _ in range(2):
            cid = len(customers) + 1
            customers[cid] = _customer(rng, cid, rng.choice(NATIONS))
            dim_rows.append(customers[cid])
    return feed, dim_rows, stats, next_key


def _base(cache):
    """The seed-independent base load: N_CUSTOMERS customers and N_BOOKINGS
    bookings, built once per checkout under `cache` and reused by every run
    of the same generator."""
    with open(__file__, "rb") as f:
        d = os.path.join(cache, "base-" + hashlib.sha1(f.read()).hexdigest()[:12])
    state_file = os.path.join(d, "state.pickle")
    if not os.path.exists(state_file):
        rng = random.Random("base")
        customers = {cid: _customer(rng, cid, rng.choice(NATIONS))
                     for cid in range(1, N_CUSTOMERS + 1)}
        base_updated = EPOCH0 - dt.timedelta(days=3)
        state = {}
        for i in range(1, N_BOOKINGS + 1):
            b = _new_booking(rng, i, base_updated + dt.timedelta(seconds=i))
            state[b.bid] = b
        tmp = d + ".tmp%d" % os.getpid()
        dim_bytes = _write(os.path.join(tmp, "customer_base.csv"),
                           [DIM_HEADER] + [_csv(customers[c]) for c in sorted(customers)])
        feed_bytes = _write(os.path.join(tmp, "bookings_base.json"),
                            [state[k].json() for k in sorted(state)])
        pq.write_table(_table((state[k].fact_row() for k in sorted(state)), FACT_SCHEMA),
                       os.path.join(tmp, "fact_base.parquet"))
        with open(os.path.join(tmp, "state.pickle"), "wb") as f:
            pickle.dump((customers, {k: b.__dict__ for k, b in state.items()},
                         dim_bytes + feed_bytes), f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(state_file, "rb") as f:
        customers, bookings, landed = pickle.load(f)
    state = {}
    for k, fields in bookings.items():
        state[k] = b = Booking()
        b.__dict__.update(fields)
    return d, customers, state, landed


def _manifest(path, epochs):
    """Lists every epoch's files, with their landing kind, and its record.
    The file is renamed into place: its presence tells the benchmark JVM
    that every file it lists is staged."""
    with open(path + ".tmp", "w") as f:
        for ep in epochs:
            for landing, p in ep.files:
                f.write("file\t%d\t%s\t%s\n" % (ep.index, landing, p))
            f.write("epoch\t%d\t%s\t%s\n" % (ep.index, ep.phase, "\t".join(
                "%s=%d" % kv for kv in sorted(ep.stats.items()))))
    os.rename(path + ".tmp", path)


def generate(workload, seed, out, cache):
    """Stage `workload`'s inputs for `seed` under `out`; return the epochs.
    The base load is listed in `out/base.tsv` as soon as it is ready, so the
    benchmark can load it while the epochs are generated; every epoch is
    then listed in `out/manifest.tsv`. The expected final state goes to
    `out/expected`."""
    kind, n_warm, n_meas = WORKLOADS[workload]
    base_dir, customers, state, landed = _base(cache)
    rng = random.Random("%s/%d" % (workload, seed))
    stage = os.path.join(out, "staged")
    exp = os.path.join(out, "expected")
    os.makedirs(exp, exist_ok=True)

    base = Epoch(0, "base")
    base.files = [("dim", os.path.join(base_dir, "customer_base.csv")),
                  ("feed", os.path.join(base_dir, "bookings_base.json"))]
    base.stats.update(landed_bytes=landed, rows=N_BOOKINGS, accepted=N_BOOKINGS,
                      inserts=N_BOOKINGS, dim_rows=N_CUSTOMERS)
    _manifest(os.path.join(out, "base.tsv"), [base])
    epochs = [base]
    next_key = N_BOOKINGS + 1
    for e in range(1, n_warm + n_meas + 1):
        ep = Epoch(e, "warmup" if e <= n_warm else "measured")
        feed, dim_rows, stats, next_key = _plan_epoch(rng, kind, e, state, customers, next_key,
                                                      _bulk_rows(e - n_warm))
        d = os.path.join(stage, "e%04d" % e)
        if dim_rows:
            f = os.path.join(d, "customer_delta_%04d.csv" % e)
            ep.stats["landed_bytes"] += _write(f, [DIM_HEADER] + [_csv(r) for r in dim_rows])
            ep.files.append(("dim", f))
        f = os.path.join(d, "bookings_%04d.json" % e)
        ep.stats["landed_bytes"] += _write(f, feed)
        ep.files.append(("feed", f))
        ep.stats.update(stats, dim_rows=len(dim_rows))
        epochs.append(ep)

    pq.write_table(_table((state[k].fact_row() for k in sorted(state)), FACT_SCHEMA),
                   os.path.join(exp, "fact_final.parquet"))
    pq.write_table(_table((_dim_row(customers[c]) for c in sorted(customers)), DIM_SCHEMA),
                   os.path.join(exp, "dim_final.parquet"))
    shutil.copy(os.path.join(base_dir, "fact_base.parquet"), exp)
    _write(os.path.join(exp, "lookup_keys.txt"), sorted(rng.sample(sorted(state), LOOKUP_KEYS)))

    _manifest(os.path.join(out, "manifest.tsv"), epochs)
    return epochs


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in WORKLOADS:
        sys.exit("usage: gen.py {%s} <seed> <out_dir>" % "|".join(WORKLOADS))
    for ep in generate(sys.argv[1], int(sys.argv[2]), sys.argv[3],
                       os.path.join(sys.argv[3], "cache")):
        print(ep.index, ep.phase, ep.stats)
