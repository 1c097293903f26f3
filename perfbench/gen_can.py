"""Seeded CANServer-v2 log generator with ground truth.

Each device produces one log object per hour of history. Objects start 20
minutes past the hour, so every object spans two landing hours and every
landing hour is built from two objects. The speed and autopilot series are
generated over the whole timeline first, then cut into objects, so planted
stationary runs and autopilot edges cross object and hour boundaries.

Ground truth is computed from the generated samples with the reference rules
(a speed==0 run is a stationary interval when last - first >= 13 s, trimmed
by 3 s on both sides; engagement is a code change <=2 -> 3, disengagement
3 -> <=2), so it holds for any prefix of objects a workload admits.
"""
import datetime as dt
import os
import random
import struct

MAGIC = b"CANSERVER_v2_CANSERVER"
FRAME_ACCEL, FRAME_GYRO, FRAME_GPS, FRAME_SPEED, FRAME_AP = 273, 257, 79, 599, 921
FRAME_OTHER = (1001, 280)  # present in real logs, dropped by the frame-id filter

# Per-second schedule: (frame id, offsets in ms within the second). Accel,
# gyro, GPS and speed run at 10 Hz and autopilot at 1 Hz, the density of the
# engine's own synthetic bench log (graft.BenchLog: ~148k decoded frames and
# ~1.8 MB per device-hour). Speed runs on a 0.1 s grid.
SPEED_HZ = 10
SPEED_OFFSETS_MS = tuple(50 + 100 * i for i in range(SPEED_HZ))
SCHEDULE = (
    (FRAME_ACCEL, tuple(3 + 100 * i for i in range(10))),
    (FRAME_GYRO, tuple(12 + 100 * i for i in range(10))),
    (FRAME_GPS, tuple(31 + 100 * i for i in range(10))),
    (FRAME_SPEED, SPEED_OFFSETS_MS),
    (FRAME_AP, (900,)),
    (FRAME_OTHER[0], (300,)),
    (FRAME_OTHER[1], (800,)),
)
CHANNEL_OF = {FRAME_ACCEL: "accel", FRAME_GYRO: "gyro", FRAME_GPS: "location",
              FRAME_SPEED: "speed", FRAME_AP: "ap_status"}
CHANNELS = ("accel", "gyro", "location", "speed", "ap_status")

BASE_EPOCH = int(dt.datetime(2024, 3, 4, tzinfo=dt.timezone.utc).timestamp())
OBJECT_OFFSET_S = 20 * 60
OBJECT_S = 3600
SPEED_ZERO_RAW = 500  # 0.08 * 500 - 40 == 0.0 exactly
NOISE_BYTES = bytes(b for b in range(256) if b not in (0xCD, 0xCE, 0xCF))
NOISE_RATE = 0.002  # share of frames followed by 1-3 noise bytes

# Stationary spans (seconds, last zero - first zero) planted between drives:
# both sides of the 13 s rule, plus short and long stops.
PLANTED_SPANS = (12.0, 12.5, 13.0, 13.5, 4.0, 45.0, 12.0, 13.0, 150.0, 30.0)


def device_name(d):
    return f"dev{d:02d}"


def object_start(h):
    return BASE_EPOCH + OBJECT_OFFSET_S + h * OBJECT_S


def object_name(d, h):
    t = dt.datetime.fromtimestamp(object_start(h), dt.timezone.utc)
    return f"canserver_{device_name(d)}_{t:%Y-%m-%dT%H-%M-%S}.log"


# ------------------------------------------------------------------ series

def _speed_raw(rng, n):
    """Raw 12-bit speed codes for n samples on the 0.1 s grid: drives of
    20-300 s between planted stops."""
    out = []
    i = 0
    while len(out) < n:
        out.extend(rng.randint(520, 2000) for _ in range(rng.randint(20 * SPEED_HZ, 300 * SPEED_HZ)))
        span = PLANTED_SPANS[i % len(PLANTED_SPANS)]
        i += 1
        out.extend([SPEED_ZERO_RAW] * (int(span * SPEED_HZ) + 1))
    return out[:n]


def _ap_codes(rng, n):
    """1 Hz autopilot codes: idle, active and active-variant segments."""
    out = []
    while len(out) < n:
        kind = rng.random()
        if kind < 0.45:
            code = rng.choice((0, 1, 2))
        elif kind < 0.85:
            code = 3
        else:
            code = rng.choice((4, 5, 8, 9, 14, 15))
        out.extend([code] * rng.randint(3, 90))
    return out[:n]


def device_series(seed, d, hours):
    """(speed, ap) sample lists of (micros, value) over `hours` objects.

    Every object boundary also gets a planted feature: a stop that spans the
    boundary, or an engagement edge exactly on it, so both cross objects.
    Half the tops of the hour get a 14 s stop across them.
    """
    rng = random.Random(seed * 1000003 + d)
    speed = _speed_raw(rng, hours * OBJECT_S * SPEED_HZ)
    ap = _ap_codes(rng, hours * OBJECT_S)
    for h in range(hours):
        b = h * OBJECT_S  # object boundary, seconds from the first object's start
        top = b + OBJECT_S - OBJECT_OFFSET_S  # top of the hour inside object h
        if h > 0 and rng.random() < 0.5:
            for k in range((b - rng.randint(3, 12)) * SPEED_HZ, (b + rng.randint(3, 12)) * SPEED_HZ + 1):
                speed[k] = SPEED_ZERO_RAW
        elif h > 0:
            ap[b - 4:b] = [2] * 4
            ap[b:b + 8] = [3] * 8
        if rng.random() < 0.5:
            for k in range((top - 7) * SPEED_HZ, (top + 7) * SPEED_HZ + 1):
                speed[k] = SPEED_ZERO_RAW
    t0 = object_start(0) * 1_000_000 + d * 1000  # per-device sync phase
    speed_s = [(t0 + (k // SPEED_HZ) * 1_000_000 + SPEED_OFFSETS_MS[k % SPEED_HZ] * 1000, v)
               for k, v in enumerate(speed)]
    ap_s = [(t0 + k * 1_000_000 + 900 * 1000, v) for k, v in enumerate(ap)]
    return speed_s, ap_s


# ------------------------------------------------------------------ encoding

def _frame(offset_ms, frame_id, payload, bus=1):
    return struct.pack("<BHHB", 0xCF, offset_ms, frame_id, (bus << 4) | len(payload)) + payload


def _payload(rng, frame_id, value):
    if frame_id == FRAME_SPEED:
        return bytes((rng.randrange(256), (value & 0xF) << 4, value >> 4, 0))
    if frame_id == FRAME_AP:
        return bytes(((rng.randrange(16) << 4) | value, 0))
    if frame_id in (FRAME_ACCEL, FRAME_GYRO):
        return struct.pack("<hhh", *(rng.randint(-8000, 8000) for _ in range(3)))
    if frame_id == FRAME_GPS:
        return bytes(rng.randrange(256) for _ in range(7))
    return bytes(rng.randrange(256) for _ in range(8))


def encode_object(seed, d, h, speed, ap, truncate=False, embed_header=False):
    """Bytes of object h of device d."""
    rng = random.Random((seed * 7919 + d) * 104729 + h)
    t0 = object_start(h) * 1_000_000 + d * 1000
    out = bytearray(MAGIC)
    out += bytes((0xCD, 7)) + b"perfgen"
    base_s = h * OBJECT_S
    for s in range(OBJECT_S):
        if embed_header and s == OBJECT_S // 2:
            out += MAGIC  # concatenated-log header mid-stream
        out += struct.pack("<BQ", 0xCE, t0 + s * 1_000_000)
        for frame_id, offsets in SCHEDULE:
            for i, off in enumerate(offsets):
                if frame_id == FRAME_SPEED:
                    value = speed[(base_s + s) * SPEED_HZ + i][1]
                elif frame_id == FRAME_AP:
                    value = ap[base_s + s][1]
                else:
                    value = None
                out += _frame(off, frame_id, _payload(rng, frame_id, value))
                if rng.random() < NOISE_RATE:
                    out += bytes(rng.choice(NOISE_BYTES) for _ in range(rng.randint(1, 3)))
    if truncate:
        out += bytes((0xCF, 0x10, 0x00))  # frame cut after 3 of its 6+ bytes
    return bytes(out)


def write_objects(seed, devices, hours, out_dir):
    """Write every object as out_dir/<h>/<device>/<object>, so a workload
    admits one h at a time; returns {h: [paths]} and the total bytes."""
    paths, total = {}, 0
    for d in range(devices):
        speed, ap = device_series(seed, d, hours)
        for h in range(hours):
            blob = encode_object(seed, d, h, speed, ap,
                                 truncate=(d == 0 and h == 0),
                                 embed_header=(d == 0 and h == 1))
            p = os.path.join(out_dir, f"{h:04d}", device_name(d), object_name(d, h))
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "wb") as f:
                f.write(blob)
            paths.setdefault(h, []).append(p)
            total += len(blob)
    return paths, total


# ------------------------------------------------------------- ground truth

def stationary_intervals(samples, min_dur=13.0, trim=3.0):
    """Reference rule over sorted (ts_sec, speed) samples."""
    out, first, last = [], None, None
    for ts, v in samples + [(None, 1.0)]:
        if v == 0.0:
            if first is None:
                first = ts
            last = ts
        else:
            if first is not None and last - first >= min_dur:
                out.append((first + trim, last - trim))
            first = None
    return out


def ap_transitions(samples):
    """Reference code-3 edge rule over sorted (ts_sec, code) samples."""
    out, prev = [], None
    for ts, code in samples:
        if prev is not None and prev <= 2 and code == 3:
            out.append((ts, code, "engagement"))
        elif prev == 3 and code <= 2:
            out.append((ts, code, "disengagement"))
        prev = code
    return out


def _day(ts_sec):
    return dt.datetime.fromtimestamp(int(ts_sec // 1), dt.timezone.utc).strftime("%Y-%m-%d")


def truth(seed, devices, hours, admitted=None):
    """Expected event documents and landing channel counts once the first
    `admitted` of the `hours` generated objects per device have landed.

    Returns {"stationary": {doc: [[start, end], ...]},
             "autopilot": {doc: {status: [[ts, code], ...]}},
             "landing": {doc: {channel: count}}}, doc = "<device>/<name>.json".
    """
    stationary, autopilot, landing = {}, {}, {}
    admitted = hours if admitted is None else admitted
    end_us = object_start(admitted) * 1_000_000
    for d in range(devices):
        dev = device_name(d)
        speed, ap = device_series(seed, d, hours)
        speed = [(t / 1e6, 0.0 if v == SPEED_ZERO_RAW else 1.0) for t, v in speed if t < end_us]
        ap = [(t / 1e6, v) for t, v in ap if t < end_us]
        for start, end in stationary_intervals(speed):
            stationary.setdefault(f"{dev}/canserver-events_{_day(start)}.json", []).append([start, end])
        for ts, code, status in ap_transitions(ap):
            doc = autopilot.setdefault(f"{dev}/canserver-events_{_day(ts)}.json", {})
            doc.setdefault(status, []).append([ts, code])
        t0 = object_start(0) * 1_000_000 + d * 1000
        for s in range(admitted * OBJECT_S):
            sec = (t0 // 1_000_000) + s
            hour_end = dt.datetime.fromtimestamp(sec - sec % 3600 + 3600, dt.timezone.utc)
            counts = landing.setdefault(f"{dev}/canserver_{hour_end:%Y-%m-%d_%H}-00-00.json",
                                        dict.fromkeys(CHANNELS, 0))
            for frame_id, offsets in SCHEDULE:
                if frame_id in CHANNEL_OF:
                    counts[CHANNEL_OF[frame_id]] += len(offsets)
    for v in stationary.values():
        v.sort()
    for doc in autopilot.values():
        for v in doc.values():
            v.sort()
    return {"stationary": stationary, "autopilot": autopilot, "landing": landing}

