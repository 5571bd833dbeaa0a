"""Seeded input generators for the benchmark.

Everything the program reads is made here from `--seed` and written into
the run's work directory:

* `locations(...)`: the reference's `locations` shape (latitude, longitude,
  source, user_id, timestamp as epoch millis), skewed like real GPS data:
  8 metros with one hot metro holding half the points, ~2k users including
  `x*` (excluded from per-user groups) and `rt-*` (collapsed to `route`),
  5% `background` rows and 30 days of timestamps. The generator also returns
  the per-user-group point totals the pyramid must reproduce at every zoom.
* `blobs(...)` / `write_heatmaps(...)`: a stored `heatmaps` table in the
  pipeline's output format and the `graft-locations` connector's files.
* `catalog(...)`: the catalog corpus tables (region, nation, customer,
  supplier, part, orders, lineitem, events, documents, embeddings) with the
  schemas and value domains the catalog entries and their DuckDB oracles
  read, one parquet file per table.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DAY_MS = 86_400_000
START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z

# (lat, lon) of 8 metro centres; the first is the hot one
METROS = [(47.61, -122.33), (51.51, -0.13), (35.68, 139.69), (-23.55, -46.63),
          (6.52, 3.38), (-33.87, 151.21), (19.08, 72.88), (41.88, -87.63)]
HOT_SHARE = 0.5
DAYS = 30


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def locations(seed, n_points, n_users=2000):
    """Returns (pyarrow.Table, {user_group: non-background point count})."""
    rng = _rng(seed, 1)
    # users: 85% plain, 5% `x*` (excluded), 10% `rt-*` (route); each lives
    # in one metro, the hot metro holding half of them
    kind = rng.choice(3, size=n_users, p=[0.85, 0.05, 0.10])
    prefix = np.array(["u", "x", "rt-"])[kind]
    user_ids = np.char.add(prefix, np.char.zfill(np.arange(n_users).astype(str), 5))
    weights = np.array([HOT_SHARE] + [(1 - HOT_SHARE) / 7] * 7)
    user_metro = rng.choice(len(METROS), size=n_users, p=weights)
    pools = [np.flatnonzero(user_metro == m) for m in range(len(METROS))]

    metro = rng.choice(len(METROS), size=n_points, p=weights)
    user = np.empty(n_points, dtype=np.int64)
    for m, pool in enumerate(pools):
        sel = metro == m
        user[sel] = pool[rng.integers(0, len(pool), size=int(sel.sum()))]
    centre = np.array(METROS)[metro]
    lat = centre[:, 0] + rng.normal(0.0, 0.08, n_points)
    lon = centre[:, 1] + rng.normal(0.0, 0.08, n_points) / np.cos(np.radians(centre[:, 0]))
    source = np.where(rng.random(n_points) < 0.05, "background",
                      np.array(["gps", "network", "fused"])[rng.integers(0, 3, n_points)])
    ts = START_MS + rng.integers(0, DAYS * DAY_MS, size=n_points)
    uid = user_ids[user]
    table = pa.table({
        "latitude": pa.array(lat, pa.float64()),
        "longitude": pa.array(lon, pa.float64()),
        "source": pa.array(source, pa.string()),
        "user_id": pa.array(uid, pa.string()),
        "timestamp": pa.array(ts, pa.int64()),
    })
    return table, group_totals(uid, source)


def group_totals(user_id, source):
    """Point totals per user group, following the pipeline's fan-out: every
    kept point counts for `all`, `rt-*` users for `route`, other users for
    themselves, `x*` users for nothing else; `background` rows are dropped."""
    keep = source != "background"
    uid = user_id[keep]
    totals = {"all": int(keep.sum())}
    route = np.char.startswith(uid, "rt-")
    if route.any():
        totals["route"] = int(route.sum())
    own = ~route & ~np.char.startswith(uid, "x")
    names, counts = np.unique(uid[own], return_counts=True)
    totals.update({str(n): int(c) for n, c in zip(names, counts)})
    return totals


def split_last_day(table):
    """(base, delta): the delta is the last of the 30 days, the base the rest."""
    ts = table.column("timestamp").to_numpy()
    last = ts >= START_MS + (DAYS - 1) * DAY_MS
    return table.filter(pa.array(~last)), table.filter(pa.array(last))


def _user_source(table):
    return (table.column("user_id").to_numpy(zero_copy_only=False).astype(str),
            table.column("source").to_numpy(zero_copy_only=False).astype(str))


# HeatmapPipeline.Config defaults: fine zoom, pyramid floor, result-set offset
FINE_ZOOM, COARSE_ZOOM, DETAIL_DELTA = 21, 6, 5


def _tiles(lat, lon, zoom):
    """Web-Mercator tile row and column, TileFunctions' formula."""
    r = np.radians(lat)
    row = np.floor((1.0 - np.log(np.tan(r) + 1.0 / np.cos(r)) / np.pi) / 2.0 * 2.0 ** zoom)
    col = np.floor((lon + 180.0) / 360.0 * 2.0 ** zoom)
    return row.astype(np.int64), col.astype(np.int64)


def blobs(table):
    """The `heatmaps` rows (id, heatmap JSON) of `table` in the pipeline's
    output format: id `group|alltime|z_r_c` of the result-set tile 5 zooms
    coarser, heatmap `{"z_r_c": count}` with sorted keys, at every zoom
    from the pyramid floor to the fine zoom."""
    uid, source = _user_source(table)
    keep = source != "background"
    uid = uid[keep]
    row, col = _tiles(table.column("latitude").to_numpy()[keep],
                      table.column("longitude").to_numpy()[keep], FINE_ZOOM)
    second = np.where(np.char.startswith(uid, "rt-"), "route",
                      np.where(np.char.startswith(uid, "x"), "", uid))
    has = second != ""
    names, g = np.unique(np.concatenate([np.full(len(uid), "all"), second[has]]),
                         return_inverse=True)
    row = np.concatenate([row, row[has]])
    col = np.concatenate([col, col[has]])
    parts = []
    for z in range(max(COARSE_ZOOM, DETAIL_DELTA), FINE_ZOOM + 1):
        # rows and columns are < 2^21: pack (group, row, col) into one key
        key, n = np.unique((g.astype(np.int64) << 42) | ((row >> (FINE_ZOOM - z)) << 21)
                           | (col >> (FINE_ZOOM - z)), return_counts=True)
        gi, r, c = key >> 42, (key >> 21) & 0x1FFFFF, key & 0x1FFFFF
        s = lambda a: pc.cast(pa.array(a), pa.string())  # noqa: E731
        parts.append(pa.table({
            "id": pc.binary_join_element_wise(
                pa.array(names[gi]), "alltime", s(np.full(len(r), z - DETAIL_DELTA)),
                "|"),
            "rs": pc.binary_join_element_wise(
                s(r >> DETAIL_DELTA), s(c >> DETAIL_DELTA), "_"),
            # counts are whole numbers: `2.0` as Spark's to_json writes them
            "entry": pc.binary_join_element_wise(
                pc.binary_join_element_wise('"' + str(z), s(r), s(c), "_"),
                pc.binary_join_element_wise(s(n), "0", "."), '":')}))
    t = pa.concat_tables(parts)
    t = pa.table({"id": pc.binary_join_element_wise(t["id"], t["rs"], "_"),
                  "entry": t["entry"]}).sort_by([("id", "ascending"), ("entry", "ascending")])
    ids = t["id"].to_pylist()
    entries = t["entry"].to_pylist()
    starts = [i for i in range(len(ids)) if i == 0 or ids[i] != ids[i - 1]]
    ends = starts[1:] + [len(ids)]
    return [(ids[a], "{" + ",".join(entries[a:b]) + "}") for a, b in zip(starts, ends)]


def write_heatmaps(rows, out_dir, files=4):
    """A `graft-locations` heatmaps store: `id<TAB>heatmap` lines in `*.hm`
    files."""
    os.makedirs(out_dir, exist_ok=True)
    for i in range(files):
        with open(os.path.join(out_dir, f"part-{i:05d}.hm"), "w") as fh:
            fh.writelines(f"{blob}\t{heatmap}\n" for blob, heatmap in rows[i::files])


# --- catalog corpus ---------------------------------------------------------

WORDS = ("join hash row batch scan customer column filter small slow merge order "
         "vector line data table agg value key stream window spark a group part "
         "big sort query fast the").split()
PART_ADJ = "small cold hot red blue big green fast".split()
PART_NOUN = "widget bolt gear gizmo ring nut valve spring".split()


def catalog(seed, sf):
    """Corpus tables at scale factor `sf` (0.01 → 60k lineitem rows)."""
    rng = _rng(seed, 2)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_doc, n_emb = 500, 500
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                  "FURNITURE"])[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(PART_NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD",
                            "SMALL"])[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    day = 86_400_000_000
    o_start = 788_918_400_000_000  # 1995-01-01 in micros
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "P", "O"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(o_start + rng.integers(0, 2404, n_ord) * day,
                                pa.timestamp("us")).cast(pa.timestamp("ms")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(o_start + day + rng.integers(0, 2498, n_line) * day,
                               pa.timestamp("us")).cast(pa.timestamp("ms"))})
    ts = np.sort(1_704_067_200_000_000 + rng.integers(0, 30 * day, n_evt))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": np.array(["error", "signup", "purchase", "view",
                                "click"])[rng.integers(0, 5, n_evt)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_evt).astype(str)), "}")})
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _documents(rng, n):
    """Word soup over a 30-word vocabulary; ~5% near-duplicates (an earlier
    document with ` dup` appended, some in the same source) so the dedup
    entries have true pairs to find."""
    texts, sources = [], []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            j = int(rng.integers(0, i))
            texts.append(texts[j] + " dup")
            sources.append(sources[j] if rng.random() < 0.5 else f"src{rng.integers(0, 20)}")
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
            sources.append(f"src{i % 20}")
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "en", "es", "de", "fr", "zh"])[rng.integers(0, 7, n)],
        "source": sources,
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def _embeddings(rng, n, dim=64, labels=10):
    """Unit vectors around one random centre per label."""
    label = rng.integers(0, labels, n)
    centres = rng.normal(0.0, 1.0, (labels, dim))
    v = centres[label] + rng.normal(0.0, 0.7, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def write_tables(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
