"""Seeded input generator for the perfbench workloads.

Everything the benchmark feeds the program comes from here, as parquet,
and is a pure function of (workload, seed): the same seed writes
byte-identical files. The generator also writes the ground truth the
output checks compare against, in files the program never reads.

Sky model (both workloads):
  * a uniform all-sky component, objects on a jittered lattice of
    spacing ``UNIFORM_SPACING_DEG`` (so no two are closer than half of
    it), and
  * ``n_fields`` dense "deep fields": disks of radius ``FIELD_RADIUS_DEG``
    holding objects on a much finer jittered lattice
    (``DEEP_SPACING_DEG``) -- hundreds of times the uniform density, so
    sky cells are strongly skewed.
Every detection scatters ``SCATTER_DEG`` (Gaussian, per axis) around its
source object. The scatter is far below every match and link radius, and
the minimum object separation far above them, so a detection's source
object is its only neighbour within those radii: the truth is exact.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import collections
import json
import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UNIFORM_SPACING_DEG = 0.1
DEEP_SPACING_DEG = 20.0 / 3600.0
FIELD_RADIUS_DEG = 1.0
SCATTER_DEG = 0.1 / 3600.0
XMATCH_RADIUS_DEG = 1.0 / 3600.0
FOF_LINK_DEG = 1.5 / 3600.0
MJD0 = 60000.0
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds

# Per-workload sizes. ``ql_interactive`` holds a survey database of about
# 3e5 detections plus the night batches its commits append;
# ``survey_batch`` is a stream of night batches against a larger object
# catalog.
SIZES = {
    "ql_interactive": dict(n_uniform=24_000, n_fields=4, n_deep=4_000,
                           epochs_uniform=4.0, epochs_deep=8.0,
                           n_commit_batches=32, commit_batch_rows=1_500,
                           base_rows=4_000, n_nights=30),
    "survey_batch": dict(n_uniform=60_000, n_fields=4, n_deep=5_000,
                         visits_uniform=0.5, visits_deep=4.0, n_batches=6),
}

# Composition of one ql_interactive "deck": the op stream is a sequence of
# decks, each a seeded shuffle of exactly these ops, so every run carries
# the same mix (4 in 5 reads, 1 in 5 commits).
QL_DECK = (["cone"] * 2 + ["rect", "poly"] + ["pair"] * 2
           + ["xmatch", "travel"] + ["commit"] * 2)
QL_DECKS = 16
QL_COMPACT_EVERY = 2


def _lattice(rng, n, spacing, center=None, radius=None, avoid=()):
    """``n`` distinct points of a jittered lattice of ``spacing`` degrees,
    either over the whole sky (|dec| < 80) or inside the disk
    (``center``, ``radius``), and outside every (center, radius) disk in
    ``avoid``. Jitter is at most a quarter spacing per axis, so any two
    points are at least half a spacing apart."""
    if center is None:
        decs = np.arange(-80.0 + spacing / 2, 80.0, spacing)
        rows = []
        for dec in decs:
            step = spacing / math.cos(math.radians(abs(dec) + spacing))
            ras = np.arange(0.0, 360.0 - step, step)
            rows.append(np.stack([ras, np.full_like(ras, dec)], axis=1))
        pts = np.concatenate(rows)
        steps = spacing / np.cos(np.radians(np.abs(pts[:, 1]) + spacing))
    else:
        ra0, dec0 = center
        k = int(math.ceil(radius / spacing))
        dy = np.arange(-k, k + 1) * spacing
        rows = []
        for y in dy:
            dec = dec0 + y
            step = spacing / math.cos(math.radians(abs(dec) + spacing))
            kx = int(math.ceil(radius / math.cos(math.radians(dec0))
                               / step)) + 1
            ras = (ra0 + np.arange(-kx, kx + 1) * step) % 360.0
            rows.append(np.stack([ras, np.full_like(ras, dec)], axis=1))
        pts = np.concatenate(rows)
        steps = spacing / np.cos(np.radians(np.abs(pts[:, 1]) + spacing))
        keep = _sep(pts[:, 0], pts[:, 1], ra0, dec0) < radius
        pts, steps = pts[keep], steps[keep]
    for (ra_a, dec_a), r_a in avoid:
        keep = _sep(pts[:, 0], pts[:, 1], ra_a, dec_a) > r_a
        pts, steps = pts[keep], steps[keep]
    if n > len(pts):
        raise ValueError(f"lattice holds {len(pts)} points, {n} asked")
    pick = np.sort(rng.choice(len(pts), size=n, replace=False))
    pts, steps = pts[pick], steps[pick]
    ra = (pts[:, 0] + rng.uniform(-0.25, 0.25, n) * steps) % 360.0
    dec = pts[:, 1] + rng.uniform(-0.25, 0.25, n) * spacing
    return ra, dec


def _sep(ra1, dec1, ra2, dec2):
    """Great-circle separation in degrees (haversine)."""
    r1, d1, r2, d2 = map(np.radians, (ra1, dec1, ra2, dec2))
    a = (np.sin((d2 - d1) / 2) ** 2
         + np.cos(d1) * np.cos(d2) * np.sin((r2 - r1) / 2) ** 2)
    return np.degrees(2 * np.arcsin(np.sqrt(np.minimum(a, 1.0))))


def _scatter(rng, ra, dec):
    n = len(ra)
    dec2 = dec + rng.normal(0.0, SCATTER_DEG, n)
    ra2 = (ra + rng.normal(0.0, SCATTER_DEG, n)
           / np.cos(np.radians(dec))) % 360.0
    return ra2, dec2


def _sky(rng, n_uniform, n_fields, n_deep):
    """Objects: (obj_id, ra, dec, mag, deep) plus the field centers."""
    centers = [(float(rng.uniform(0, 360)), float(rng.uniform(-50, 50)))]
    while len(centers) < n_fields:
        c = (float(rng.uniform(0, 360)), float(rng.uniform(-50, 50)))
        if all(_sep(c[0], c[1], o[0], o[1]) > 6 * FIELD_RADIUS_DEG
               for o in centers):
            centers.append(c)
    avoid = [(c, FIELD_RADIUS_DEG + UNIFORM_SPACING_DEG) for c in centers]
    ra_u, dec_u = _lattice(rng, n_uniform, UNIFORM_SPACING_DEG, avoid=avoid)
    ras, decs = [ra_u], [dec_u]
    for c in centers:
        r, d = _lattice(rng, n_deep, DEEP_SPACING_DEG, center=c,
                        radius=FIELD_RADIUS_DEG)
        ras.append(r)
        decs.append(d)
    ra, dec = np.concatenate(ras), np.concatenate(decs)
    n = len(ra)
    deep = np.zeros(n, dtype=bool)
    deep[n_uniform:] = True
    mag = np.round(rng.uniform(16.0, 23.0, n), 3)
    obj_id = np.arange(1, n + 1, dtype=np.int64) * 7 + 1_000_000
    return dict(obj_id=obj_id, ra=ra, dec=dec, mag=mag, deep=deep), centers


def _detections(rng, objs, idx, first_id):
    ra, dec = _scatter(rng, objs["ra"][idx], objs["dec"][idx])
    n = len(idx)
    det_id = np.arange(first_id, first_id + n, dtype=np.int64)
    mag = np.round(objs["mag"][idx] + rng.normal(0.0, 0.05, n), 4)
    return dict(det_id=det_id, ra=ra, dec=dec, mag=mag,
                true_obj=objs["obj_id"][idx])


def _night_times(rng, night, n):
    mjd = MJD0 + night + rng.uniform(0.05, 0.45, n)
    ts = (EPOCH_US + np.round((mjd - MJD0) * 86_400e6)).astype(np.int64)
    return np.round(mjd, 6), ts


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _det_table(d):
    return {"det_id": pa.array(d["det_id"], pa.int64()),
            "ra": pa.array(d["ra"], pa.float64()),
            "dec": pa.array(d["dec"], pa.float64()),
            "mag": pa.array(d["mag"], pa.float64()),
            "mjd": pa.array(d["mjd"], pa.float64()),
            "ts": pa.array(d["ts"], pa.timestamp("us", tz="UTC"))}


def _obj_table(objs):
    # distinct column names from the detections', so a QL xmatch can
    # attach object columns next to detection columns
    return {"obj_id": pa.array(objs["obj_id"], pa.int64()),
            "obj_ra": pa.array(objs["ra"], pa.float64()),
            "obj_dec": pa.array(objs["dec"], pa.float64()),
            "obj_mag": pa.array(objs["mag"], pa.float64())}


def _truth_table(d):
    return {"det_id": pa.array(d["det_id"], pa.int64()),
            "obj_id": pa.array(d["true_obj"], pa.int64())}


def _epochs(rng, objs, mean_u, mean_d, n_nights):
    """Multi-epoch detections: per object a Poisson number of epochs
    (deep-field objects get more), each on a random night."""
    lam = np.where(objs["deep"], mean_d, mean_u)
    k = np.maximum(1, rng.poisson(lam))
    idx = np.repeat(np.arange(len(k)), k)
    night = rng.integers(0, n_nights, len(idx))
    return idx, night


def _cone(rng, centers, deep):
    """A seeded (ra, dec, radius) sized to hold a few hundred detections:
    inside a deep field, or on the uniform sky (|dec| < 60)."""
    if deep:
        c = centers[rng.integers(len(centers))]
        off = rng.uniform(0, 0.6 * FIELD_RADIUS_DEG)
        ang = rng.uniform(0, 2 * math.pi)
        ra = (c[0] + off * math.cos(ang) / math.cos(math.radians(c[1])))
        dec = c[1] + off * math.sin(ang)
        return ra % 360.0, dec, float(rng.uniform(0.08, 0.12))
    r = float(rng.uniform(4.0, 5.0))
    while True:
        # clear of every deep field, whose density would swamp the read
        ra, dec = float(rng.uniform(0, 360)), float(rng.uniform(-60, 60))
        if all(_sep(ra, dec, c[0], c[1]) > 1.5 * r + FIELD_RADIUS_DEG
               for c in centers):
            return ra, dec, r


def _ql_ops(rng, centers, n_commit_batches, n_nights):
    """The ql_interactive op stream: QL_DECKS seeded shuffles of QL_DECK
    with seeded parameters (centers, radii, intervals, overrides). Within
    a deck, repeated bounded kinds alternate deep field and uniform sky,
    and single ones alternate from deck to deck, so every two decks hold
    the same mix of dense and sparse reads."""
    ops = []
    commit = 0
    for d in range(QL_DECKS):
        seen = collections.Counter()
        for kind in rng.permutation(QL_DECK):
            kind = str(kind)
            deep = (seen[kind] + d) % 2 == 0
            seen[kind] += 1
            op = {"kind": kind}
            if kind in ("cone", "pair", "xmatch"):
                # xmatch reads go where the objects are dense
                ra, dec, r = _cone(rng, centers, deep or kind == "xmatch")
                op.update(ra=ra, dec=dec, r=r)
                if kind == "pair":
                    n0 = int(rng.integers(0, n_nights - 5))
                    t0 = n0 + float(rng.uniform(0, 1))
                    op.update(t0=_iso(t0), t1=_iso(t0 + 5.0))
                if kind == "xmatch":
                    op.update(dmax=float(rng.uniform(0.6, 1.0)) / 3600.0,
                              nmax=int(rng.integers(1, 3)))
            elif kind == "rect":
                ra, dec, r = _cone(rng, centers, deep)
                w = r * float(rng.uniform(0.8, 1.2))
                h = r * float(rng.uniform(0.8, 1.2))
                cosd = math.cos(math.radians(dec))
                op.update(lon_min=(ra - w / cosd) % 360.0,
                          lon_max=(ra + w / cosd) % 360.0,
                          lat_min=dec - h, lat_max=dec + h)
            elif kind == "poly":
                ra, dec, r = _cone(rng, centers, deep)
                angs = np.sort(rng.uniform(0, 2 * math.pi, 5))
                cosd = math.cos(math.radians(dec))
                verts = []
                for a in angs:
                    rr = r * float(rng.uniform(0.8, 1.2))
                    verts.append([(ra + rr * math.cos(a) / cosd) % 360.0,
                                  dec + rr * math.sin(a)])
                op.update(verts=verts)
            elif kind == "travel":
                lo = float(MJD0 + rng.uniform(0, n_nights - 5))
                op.update(mjd_lo=lo, mjd_hi=lo + 5.0,
                          back=int(rng.integers(0, 2)))
            elif kind == "commit":
                op.update(batch=commit % n_commit_batches,
                          compact=(commit + 1) % QL_COMPACT_EVERY == 0)
                commit += 1
            ops.append(op)
    return ops


def _iso(night_frac):
    import datetime as dt
    t = dt.datetime(2024, 1, 1) + dt.timedelta(days=night_frac)
    return t.strftime("%Y-%m-%d %H:%M:%S")


def gen_ql(seed, out):
    z = SIZES["ql_interactive"]
    rng = np.random.default_rng([seed, 1])
    objs, centers = _sky(rng, z["n_uniform"], z["n_fields"], z["n_deep"])
    idx, night = _epochs(rng, objs, z["epochs_uniform"], z["epochs_deep"],
                         z["n_nights"])
    d = _detections(rng, objs, idx, first_id=1)
    d["mjd"], d["ts"] = _night_times(rng, night, len(idx))
    _write(f"{out}/detections.parquet", _det_table(d))
    _write(f"{out}/objects.parquet", _obj_table(objs))
    _write(f"{out}/truth_detections.parquet", _truth_table(d))
    # night batches: the base snapshot plus one file per commit batch
    next_id = 10_000_000
    os.makedirs(f"{out}/nights", exist_ok=True)
    for b in range(-1, z["n_commit_batches"]):
        n = z["base_rows"] if b < 0 else z["commit_batch_rows"]
        pick = rng.integers(0, len(objs["obj_id"]), n)
        nb = _detections(rng, objs, pick, first_id=next_id)
        next_id += n
        nights = rng.integers(0, z["n_nights"], n)
        nb["mjd"], nb["ts"] = _night_times(rng, nights, n)
        name = "base" if b < 0 else f"batch_{b:03d}"
        _write(f"{out}/nights/{name}.parquet", _det_table(nb))
    ops = _ql_ops(rng, centers, z["n_commit_batches"], z["n_nights"])
    meta = dict(workload="ql_interactive", seed=seed, centers=centers,
                xmatch_radius_deg=XMATCH_RADIUS_DEG,
                commit_batch_rows=z["commit_batch_rows"], ops=ops)
    with open(f"{out}/plan.json", "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)


def gen_survey(seed, out):
    z = SIZES["survey_batch"]
    rng = np.random.default_rng([seed, 2])
    objs, centers = _sky(rng, z["n_uniform"], z["n_fields"], z["n_deep"])
    _write(f"{out}/objects.parquet", _obj_table(objs))
    os.makedirs(f"{out}/batches", exist_ok=True)
    os.makedirs(f"{out}/truth", exist_ok=True)
    lam = np.where(objs["deep"], z["visits_deep"], z["visits_uniform"])
    field = np.full(len(lam), -1)
    field[z["n_uniform"]:] = np.repeat(np.arange(z["n_fields"]), z["n_deep"])
    next_id = 1
    batches = []
    for b in range(z["n_batches"]):
        # one night: each object is visited a Poisson number of times
        # (deep fields several times), so a batch holds multi-epoch
        # light curves
        idx = np.repeat(np.arange(len(lam)), rng.poisson(lam))
        d = _detections(rng, objs, idx, first_id=next_id)
        next_id += len(idx)
        d["mjd"], d["ts"] = _night_times(rng, np.full(len(idx), b), len(idx))
        _write(f"{out}/batches/batch_{b:03d}.parquet", _det_table(d))
        _write(f"{out}/truth/batch_{b:03d}.parquet", _truth_table(d))
        # the FoF region of batch b is deep field b mod n_fields; its
        # truth is the field's detections, each with its source object
        inside = field[idx] == b % z["n_fields"]
        _write(f"{out}/truth/fof_{b:03d}.parquet", {
            "det_id": pa.array(d["det_id"][inside], pa.int64()),
            "obj_id": pa.array(d["true_obj"][inside], pa.int64())})
        batches.append(dict(rows=int(len(idx)), field=b % z["n_fields"]))
    meta = dict(workload="survey_batch", seed=seed, centers=centers,
                xmatch_radius_deg=XMATCH_RADIUS_DEG,
                fof_link_deg=FOF_LINK_DEG, batches=batches)
    with open(f"{out}/plan.json", "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)


GENERATORS = {"ql_interactive": gen_ql, "survey_batch": gen_survey}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](int(seed), out)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
