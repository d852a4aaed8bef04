"""Seeded input generators for the benchmark workloads.

Every generator writes plain files (tar, gzip, CSV, parquet) with the
standard library, numpy and pyarrow only -- never with the engine under
test -- so a change to the engine cannot change its own input. The same
seed gives byte-identical files, and each generator returns the
expectations the run is checked against, computed from the generated
values rather than from the engine.
"""
import datetime
import gzip
import io
import json
import math
import random
import statistics
import tarfile
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes; README.md lists the same figures per workload.
GSOD = dict(archives=16, stations=6, first_year=2004)
CORPUS = dict(uniques=2000, words=40, vocab=3000, big_cluster=1100,
              small_clusters=60, small_min=2, small_max=8, exact_copies=80)
VECTORS = dict(n=6000, dim=64, centers=200, batches=3, probes=12, k=10)
TABLES = dict(orders=3000, lineitem=12000, documents=500, events=2000)

MEASURES = ("temp", "dewp", "wdsp", "max", "min", "prcp")
SENTINEL = dict(temp=9999.9, dewp=9999.9, wdsp=999.9, max=9999.9,
                min=9999.9, prcp=99.99)


def _write_parquet(table, path):
    pq.write_table(table, str(path), compression="snappy")


# --------------------------------------------------------------------------
# gsod_etl_gbt: year archives of station-year .op files plus isd-history.
# --------------------------------------------------------------------------

def _tar_bytes(members):
    """ustar archive with fixed metadata, so the bytes depend only on the
    member names and payloads."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for name, payload in members:
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            info.mtime = 0
            info.mode = 0o644
            info.uid = info.gid = 0
            info.uname = info.gname = ""
            tf.addfile(info, io.BytesIO(payload))
    return buf.getvalue()


def _gsod_day(rnd, station_off, doy):
    """One day's readings; None marks a sentinel (missing) value."""
    def miss(p=0.02):
        return rnd.random() < p
    temp = 50 + 25 * math.sin(2 * math.pi * (doy - 100) / 365) + station_off \
        + rnd.gauss(0, 5)
    dewp = temp - rnd.uniform(2, 15)
    wdsp = rnd.uniform(0, 20)
    mx = temp + rnd.uniform(2, 12)
    mn = temp - rnd.uniform(2, 12)
    prcp = max(0.0, 0.02 * (dewp - 30) + 0.01 * (wdsp - 10) + rnd.gauss(0, 0.08))
    vals = dict(temp=round(temp, 1), dewp=round(dewp, 1), wdsp=round(wdsp, 1),
                max=round(mx, 1), min=round(mn, 1), prcp=round(prcp, 2))
    return {k: (None if miss() else v) for k, v in vals.items()}


def _gsod_line(usaf, wban, ymd, v, rnd):
    def f(k, fmt):
        return fmt % (SENTINEL[k] if v[k] is None else v[k])
    mx = f("max", "%.1f") + ("*" if v["max"] is not None and rnd.random() < 0.3 else "")
    mn = f("min", "%.1f") + ("*" if v["min"] is not None and rnd.random() < 0.3 else "")
    pr = f("prcp", "%.2f") + ("" if v["prcp"] is None else rnd.choice("ABCDEFGHI"))
    return (f"{usaf} {wban:05d}  {ymd}  {f('temp', '%6.1f')} 24  {f('dewp', '%6.1f')} 24"
            f"  1015.2 24  1014.1 24    9.9 24  {f('wdsp', '%5.1f')} 24   12.0   15.9"
            f"  {mx:>7}  {mn:>7}  {pr:>6}  2.0  001000")


GSOD_HEADER = ("STN--- WBAN   YEARMODA    TEMP       DEWP      SLP        STP"
               "       VISIB      WDSP     MXSPD   GUST    MAX     MIN   PRCP"
               "   SNDP   FRSHTT")


def gen_gsod(out, seed):
    rnd = random.Random(f"gsod-{seed}")
    first = GSOD["first_year"]
    last = first + GSOD["archives"] - 1
    stations = []
    for i in range(GSOD["stations"]):
        usaf, wban = str(720000 + 17 * i + rnd.randrange(10)), 90000 + i
        # the last two stations are dropped by the station cleaning: one
        # closed before the last year, one without coordinates
        end = (last - 5) if i == GSOD["stations"] - 2 else last
        lat = "" if i == GSOD["stations"] - 1 else "%.3f" % rnd.uniform(25, 48)
        stations.append(dict(usaf=usaf, wban=wban, end=end, lat=lat,
                             lon="%.3f" % rnd.uniform(-120, -70),
                             off=rnd.uniform(-15, 15),
                             active=(end == last and lat != "")))
    with open(out / "isd-history.csv", "w", newline="\n") as fh:
        fh.write("USAF,WBAN,STATION NAME,CTRY,STATE,ICAO,LAT,LON,ELEV(M),BEGIN,END\n")
        for i, s in enumerate(stations):
            fh.write(f"{s['usaf']},{s['wban']},STATION {i},US,IL,K{i:03d},"
                     f"{s['lat']},{s['lon']},{100 + i}.0,{first - 1}0101,{s['end']}1231\n")
    (out / "gsod").mkdir()
    monthly = {}
    lines = members = gz = 0
    for year in range(first, last + 1):
        batch = []
        for si, s in enumerate(stations):
            rows = [GSOD_HEADER]
            days = 366 if year % 4 == 0 else 365
            for doy in range(1, days + 1):
                ymd = (datetime.date(year, 1, 1)
                       + datetime.timedelta(days=doy - 1)).strftime("%Y%m%d")
                v = _gsod_day(rnd, s["off"], doy)
                rows.append(_gsod_line(s["usaf"], s["wban"], ymd, v, rnd))
                if s["active"]:
                    monthly.setdefault((s["usaf"], s["wban"], year, int(ymd[4:6])), []).append(v)
            payload = ("\n".join(rows) + "\n").encode()
            name = f"{s['usaf']}-{s['wban']:05d}-{year}.op"
            if (si + year) % 2 == 0:  # half of the members are gzipped
                payload, name = gzip.compress(payload, mtime=0), name + ".gz"
                gz += 1
            batch.append((name, payload))
            lines += len(rows) - 1
            members += 1
        (out / "gsod" / f"gsod_{year}.tar").write_bytes(_tar_bytes(batch))
    expected = []
    for (usaf, wban, year, month), vs in sorted(monthly.items()):
        row = dict(usaf=usaf, wban=wban, year=year, month=month)
        for k in MEASURES:
            xs = [v[k] for v in vs if v[k] is not None]
            row[k] = statistics.median(xs) if xs else None
        expected.append(row)
    props = dict(archives=GSOD["archives"], members=members,
                 gzip_members=gz, observation_lines=lines,
                 stations=len(stations),
                 active_stations=sum(s["active"] for s in stations),
                 min_year=first, max_year=last, monthly_rows=len(expected))
    return props, dict(monthly=expected), dict(min_year=first, max_year=last)


# --------------------------------------------------------------------------
# corpus_dedup: unique documents plus planted exact and near-dup clusters.
# --------------------------------------------------------------------------

def gen_corpus(out, seed):
    rnd = random.Random(f"corpus-{seed}")
    c = CORPUS
    vocab = [f"w{i:04d}" for i in range(c["vocab"])]

    def doc():
        return [rnd.choice(vocab) for _ in range(c["words"])]

    def near(base):
        d = list(base)
        d[rnd.randrange(len(d))] = rnd.choice(vocab)
        return d

    groups = []  # (kind, [texts]); each group must collapse to one survivor
    for _ in range(c["uniques"]):
        groups.append(["unique", [" ".join(doc())]])
    # one clone cluster larger than Dedup.minhashNearDups' default
    # maxBucket (1024): the members differ only in punctuation, so exact
    # dedup keeps them all while their shingles, signatures and band keys
    # are identical -- the over-cap star path
    base = doc()
    clones = []
    for i in range(c["big_cluster"]):
        d = list(base)
        d[i % len(d)] += ","
        d[(i // len(d)) % len(d)] += "!"
        clones.append(" ".join(d))
    groups.append(["near", clones])
    # small near-duplicate clusters: one word substituted per member
    sizes = [c["big_cluster"]]
    for _ in range(c["small_clusters"]):
        n = rnd.randint(c["small_min"], c["small_max"])
        base = doc()
        groups.append(["near", [" ".join(base)] + [" ".join(near(base)) for _ in range(n - 1)]])
        sizes.append(n)
    # exact copies of unique documents, case- and whitespace-shifted so
    # they only match after the exact dedup's normalisation
    for gi in rnd.sample(range(c["uniques"]), c["exact_copies"]):
        t = groups[gi][1][0]
        groups[gi][1].append((t.upper() if rnd.random() < 0.5 else t) + "  ")
        groups[gi][0] = "exact"
    flat = [(gi, t) for gi, (_, ts) in enumerate(groups) for t in ts]
    order = list(range(len(flat)))
    rnd.shuffle(order)
    ids, texts, members = [], [], [[] for _ in groups]
    for doc_id, fi in enumerate(order):
        gi, t = flat[fi]
        ids.append(doc_id)
        texts.append(t)
        members[gi].append(doc_id)
    _write_parquet(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}),
                   out / "corpus.parquet")
    dup_groups = [m for (kind, _), m in zip(groups, members) if kind != "unique"]
    props = dict(documents=len(flat), survivors=len(groups),
                 duplicate_share=round(1 - len(groups) / len(flat), 4),
                 near_dup_clusters=len(sizes), cluster_sizes_max=max(sizes),
                 cluster_sizes_over_maxBucket=sum(s > 1024 for s in sizes),
                 exact_copies=c["exact_copies"])
    return props, dict(survivors=len(groups), groups=dup_groups), {}


# --------------------------------------------------------------------------
# ann_index: clustered unit vectors, append batches, probes with exact top-k.
# --------------------------------------------------------------------------

def gen_vectors(out, seed):
    v = VECTORS
    rng = np.random.default_rng(np.random.SeedSequence([seed, 3]))
    centers = rng.normal(size=(v["centers"], v["dim"]))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, v["centers"], size=v["n"])
    x = centers[label] + 0.25 * rng.normal(size=(v["n"], v["dim"])) / math.sqrt(v["dim"])
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    (out / "vectors").mkdir()
    # the first batch (half the vectors) trains the index; the rest append
    bounds = [0] + [int(b) for b in np.linspace(v["n"] // 2, v["n"], v["batches"])]
    for b in range(v["batches"]):
        lo, hi = bounds[b], bounds[b + 1]
        _write_parquet(pa.table({
            "vec_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
            "embedding": pa.array(list(x[lo:hi]), pa.list_(pa.float32())),
            "label": pa.array(label[lo:hi].astype(np.int32))}),
            out / "vectors" / f"batch_{b}.parquet")
    pl = rng.integers(0, v["centers"], size=v["probes"])
    probes = centers[pl] + 0.25 * rng.normal(size=(v["probes"], v["dim"])) / math.sqrt(v["dim"])
    probes /= np.linalg.norm(probes, axis=1, keepdims=True)
    xd = x.astype(np.float64)
    truth = []
    for p in probes:
        d2 = ((xd - p) ** 2).sum(axis=1)
        truth.append([int(i) for i in np.lexsort((np.arange(len(d2)), d2))[:v["k"]]])
    props = dict(vectors=v["n"], dim=v["dim"], centers=v["centers"],
                 batches=v["batches"], append_batches=v["batches"] - 1,
                 probes=v["probes"], k=v["k"])
    params = dict(batches=v["batches"], k=v["k"],
                  probes=[[float(f) for f in p] for p in probes])
    return props, dict(truth=truth), params


# --------------------------------------------------------------------------
# query_mix: the tables its queries read, in the engine's test-table schema.
# --------------------------------------------------------------------------

DOC_WORDS = ("a the data query table row column key value join hash sort merge "
             "scan filter group agg order line part customer window stream batch "
             "spark vector big small fast slow").split()


def gen_tables(out, seed):
    rng = np.random.default_rng(np.random.SeedSequence([seed, 4]))
    t = TABLES

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n) * np.timedelta64(86400_000_000, "us")

    def write(name, cols):
        _write_parquet(pa.table(cols), out / f"{name}.parquet")

    n = t["orders"]
    write("orders", {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 300, n).astype(np.int64)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": money(1000, 500000, n),
        "o_orderdate": days("1995-01-01", 2400, n),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})
    n = t["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, t["orders"], n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, 400, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 20, n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": days("1995-01-02", 2500, n)})
    n = t["documents"]
    texts = []
    for i in range(n):
        words = list(rng.choice(DOC_WORDS, rng.integers(8, 90)))
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})
    n = t["events"]
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, 3 * 86400_000_000, n) * np.timedelta64(1, "us"))
    write("events", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, 60, n).astype(np.int64)),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n),
        "value": np.round(rng.uniform(0, 200, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    rows = sum(pq.read_metadata(p).num_rows for p in out.glob("*.parquet"))
    return dict(tables=len(list(out.glob("*.parquet"))), rows=rows, **t), {}, {}


def gen_rag(out, seed):
    """corpus_dedup's and ann_index's inputs side by side."""
    corpus, vectors = gen_corpus(out, seed), gen_vectors(out, seed)
    return tuple({**a, **b} for a, b in zip(corpus, vectors))


GENERATORS = dict(gsod_etl_gbt=gen_gsod, corpus_dedup=gen_corpus,
                  ann_index=gen_vectors, rag_prep=gen_rag, query_mix=gen_tables)


def generate(workload, out, seed):
    """Write the workload's inputs under `out` (created fresh), plus the
    run parameters the engine side reads from params.json; returns
    (properties, expectations). Expectations never reach the engine."""
    out = Path(out)
    out.mkdir(parents=True)
    props, expected, params = GENERATORS[workload](out, seed)
    (out / "params.json").write_text(json.dumps(params))
    return props, expected
