"""Seeded SF-taxi workload generator with an independent golden.

Writes, for one (seed, n_taxis):

  segments.txt  9-field quoted CSV segments (FIXTURES.md A.1), globally
                shuffled, with the A.1 dirty cases mixed in at per-mille
                rates: wrong arity, NULL halves, out-of-bbox and in-ocean
                points, non-M/E status, exact duplicate rows, out-of-order
                rows, M-M gaps over 210 s, legs over 180 km/h, trips under
                0.1 km, and trips that do and do not touch the SFO radius.
  trips.txt     11-field space-separated trips (FIXTURES.md A.2) for q1.
  golden.json   digests of the expected q1 histogram, airport trips, daily
                and total revenue, computed by the Python reference FSM in
                tools/gen_taxi_fixtures.py (imported, never run as a
                script: its main() rewrites the committed fixtures).

A digest is the row count plus the sum of the first 15 hex digits of each
output line's md5, read as an integer: order-insensitive, and it counts
duplicate lines. The Scala side (perfbench.Digest.lines) computes the same.
"""
import hashlib
import json
import math
import os
import random
import sys
from collections import defaultdict
from datetime import datetime, timezone
from decimal import Decimal

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
import gen_taxi_fixtures as ref  # noqa: E402

SFO = ref.SFO
DAY0 = 1211673600  # 2008-05-25 00:00:00 UTC
DAYS = 7


def _fast_epoch(slow):
    """Drop-in for ref.epoch: strptime per position dominates the golden's
    cost at this scale, so midnight epochs are looked up per date and the
    time of day added. Same float for every well-formed timestamp."""
    midnight = {}

    def epoch(tsS):
        d = tsS[:10]
        m = midnight.get(d)
        if m is None:
            m = midnight[d] = slow(d + " 00:00:00")
        return m + int(tsS[11:13]) * 3600 + int(tsS[14:16]) * 60 + int(tsS[17:19])
    return epoch


ref.epoch = _fast_epoch(ref.epoch)


def _ts_formatter():
    """ts_str with the date part cached per day (same output as ref.ts_str)."""
    days = {}

    def ts(epoch):
        day, sec = divmod(epoch, 86400)
        d = days.get(day)
        if d is None:
            d = days[day] = datetime.fromtimestamp(day * 86400, tz=timezone.utc).strftime("%Y-%m-%d")
        return f"{d} {sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}"
    return ts


def _stream(rng, trips):
    """One taxi's GPS positions: E cruising, then an M trip, repeated."""
    t = DAY0 + rng.randint(0, 86400 * (DAYS - 1))
    lat, lon = rng.uniform(37.55, 37.80), rng.uniform(-122.45, -122.38)
    out = []
    for _ in range(trips):
        for _ in range(rng.randint(2, 4)):
            out.append((t, lat, lon, "E"))
            t += rng.randint(40, 90)
            lat += rng.uniform(-0.004, 0.004)
            lon += rng.uniform(-0.004, 0.004)
        short = rng.random() < 0.05  # under 0.1 km: dropped
        via_sfo = rng.random() < 0.5
        if via_sfo and rng.random() < 0.5:
            lat, lon = SFO[0] + rng.uniform(-0.005, 0.005), SFO[1] + rng.uniform(-0.005, 0.005)
        n = 2 if short else rng.randint(4, 10)
        step = 0.0001 if short else 0.006
        for j in range(n):
            out.append((t, lat, lon, "M"))
            t += rng.randint(40, 90)
            lat += rng.uniform(-step, step)
            lon += rng.uniform(-step, step)
            if via_sfo and j == n // 2 and rng.random() < 0.7:
                lat, lon = SFO[0] + rng.uniform(-0.004, 0.004), SFO[1] + rng.uniform(-0.004, 0.004)
            if rng.random() < 0.04:
                t += int(ref.MAX_GAP) + rng.randint(30, 300)  # gap: splits the trip
            if j > 0 and rng.random() < 0.02:
                # teleport ~167 km within one leg: over 180 km/h, point skipped
                out[-1] = (out[-1][0], out[-1][1] + 1.5, out[-1][2], "M")
        out.append((t, lat, lon, "E"))
        t += rng.randint(40, 90)
    return out


def _dirty(rng, line):
    """Replace one clean segment line by one of the A.1 dirty cases."""
    f = line.split(",")
    kind = rng.randrange(5)
    if kind == 0:
        return ",".join(f[:5])  # arity 5
    if kind == 1:
        return line + ",extra"  # arity 10
    if kind == 2:
        return ",".join(f[:5] + ["'NULL'", "NULL", "NULL", "'NULL'"])  # NULL half
    if kind == 3:
        lat, lon = (35.0, -122.4) if rng.random() < 0.5 else (37.5, -123.5)  # bbox / ocean
        return ",".join(f[:2] + [ref.fmt_coord(lat), ref.fmt_coord(lon)] + f[4:])
    return ",".join(f[:4] + ["'X'"] + f[5:8] + ["'Q'"])  # bad status on both halves


def generate(seed, n_taxis, out_dir, n_trip_rows):
    rng = random.Random(seed)
    ts = _ts_formatter()
    seg = []
    for i in range(n_taxis):
        taxi = 100 + i
        pts = _stream(rng, rng.randint(10, 18))
        for a, b in zip(pts, pts[1:]):
            seg.append(f"{taxi},'{ts(a[0])}',{a[1]:.5f},{a[2]:.5f},'{a[3]}',"
                       f"'{ts(b[0])}',{b[1]:.5f},{b[2]:.5f},'{b[3]}'")
    n = len(seg)
    for k in rng.sample(range(n), n // 500):
        seg[k] = _dirty(rng, seg[k])
    seg.extend(seg[k] for k in rng.sample(range(n), n // 1000))  # exact duplicates
    rng.shuffle(seg)  # out-of-order arrival

    trips_rows = []
    for i in range(n_trip_rows):
        taxi = 100 + rng.randrange(n_taxis)
        slat, slon = rng.uniform(37.3, 38.2), rng.uniform(-122.8, -121.9)
        r = rng.random()
        d = rng.uniform(0.05, 12.0) if r < 0.7 else rng.uniform(12.0, 78.0) if r < 0.92 else rng.uniform(78.0, 120.0)
        th = rng.uniform(0, 2 * math.pi)
        elat = slat + (d / ref.R) * math.degrees(1) * math.cos(th)
        elon = slon + (d / ref.R) * math.degrees(1) * math.sin(th) / math.cos(math.radians(slat))
        t0 = DAY0 + i * 3
        actual = ref.dist(slat, slon, elat, elon)
        trips_rows.append(f"{taxi} {t0}.0 {ref.fmt_coord(slat)} {ref.fmt_coord(slon)} {t0 + 600}.0 "
                          f"{ref.fmt_coord(elat)} {ref.fmt_coord(elon)} true {actual:.3f} "
                          f"{ref.FARE_BASE + ref.FARE_KM * actual:.2f} 2008-05-25")

    fsm = ref.run_fsm(ref.parse_positions(seg))
    daily = defaultdict(Decimal)
    for t in fsm:
        daily[t[9]] += Decimal(f"{t[8]:.2f}")
    golden = {
        "segments": len(seg),
        "q1": digest(ref.golden_q1(trips_rows)),
        "trips": digest(ref.fmt_trip(t) for t in fsm),
        "daily": digest(f"{d}\t{v:.2f}" for d, v in daily.items()),
        "total": digest([f"{sum(daily.values(), Decimal(0)):.2f}"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, lines in (("segments.txt", seg), ("trips.txt", trips_rows)):
        with open(os.path.join(out_dir, name), "w") as f:
            f.write("\n".join(lines) + "\n")
    with open(os.path.join(out_dir, "golden.json"), "w") as f:
        json.dump(golden, f)
    return golden


def digest(lines):
    rows, total = 0, 0
    for line in lines:
        rows += 1
        total += int(hashlib.md5(line.encode()).hexdigest()[:15], 16)
    return {"rows": rows, "sum": str(total)}
