"""Seeded input generators for the three benchmark workloads.

Every generator takes a numpy Generator built from the run's --seed and
writes plain files (parquet, .osm.pbf, .osc.gz) that the engine reads; the
benchmark also keeps the generator's own arrays or dicts as the reference
the correctness checks compare against. The same seed gives byte-identical
files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from coords_spark.kernels import phash

# hotspot-like cluster centres (lat, lon degrees) for the vector worlds;
# points get their urban clustering from phash.anchor, as gen_points does
CENTRES = np.array(
    [
        (51.51, -0.12), (48.86, 2.35), (40.71, -74.00), (35.68, 139.69),
        (52.52, 13.40), (41.90, 12.50), (-33.87, 151.21), (37.77, -122.42),
        (55.75, 37.62), (19.43, -99.13), (-23.55, -46.63), (1.35, 103.82),
    ]
)

I7 = 10_000_000  # degrees -> 1e-7 fixed point


def rng_for(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(salt)])


# --------------------------------------------------------------------------
# image points (point_chunking, viewport_read)
# --------------------------------------------------------------------------


def gen_points(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """Image-point columns shaped like fixtures.gen_points: a uniform 64-bit
    phash whose anchor (lat, lon) is hotspot-clustered."""
    ph = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, size=n, dtype=np.int64)
    lat, lon = phash.anchor(ph)
    return {"idx": np.arange(n, dtype=np.int64), "phash": ph, "lat": lat, "lon": lon}


def write_points(pts: dict[str, np.ndarray], out_dir: str, files: int) -> int:
    """Write the points as `files` parquet files; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    n = pts["idx"].size
    per = -(-n // files)
    total = 0
    for i in range(files):
        sl = slice(i * per, min(n, (i + 1) * per))
        tbl = pa.table(
            {
                "image_id": pa.array([f"img{j:010d}" for j in pts["idx"][sl]], pa.string()),
                "phash": pa.array(pts["phash"][sl], pa.int64()),
                "lat": pa.array(pts["lat"][sl], pa.int32()),
                "lon": pa.array(pts["lon"][sl], pa.int32()),
            }
        )
        p = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(tbl, p)
        total += os.path.getsize(p)
    return total


VIEWPORTS = {  # name -> (half-size in degrees, render zoom)
    "street": (0.01, 15),
    "city": (0.08, 12),
    "region": (0.6, 9),
}


def gen_viewports(rng: np.random.Generator, pts: dict[str, np.ndarray], rounds: int):
    """`rounds` rounds of one row-fetch viewport per size (street, city,
    region), each centred on a seeded data point so no request misses;
    returned as (kind, bbox_i32, zoom) in round order. Per size, of 4 x
    `rounds` seeded candidates the `rounds` whose row count is nearest the
    median are kept, so a request of a size fetches about as many rows
    whatever the seed (point density spans orders of magnitude)."""
    per_kind = []
    for kind, (half, zoom) in VIEWPORTS.items():
        h = int(half * I7)
        cands = []
        for i in rng.integers(0, pts["idx"].size, size=4 * rounds):
            la, lo = int(pts["lat"][i]), int(pts["lon"][i])
            cands.append((kind, (la - h, lo - h, la + h, lo + h), zoom))
        per_kind.append(typical(cands, [count_in_bbox(pts, b) for _, b, _ in cands], rounds))
    return [v for rnd in zip(*per_kind) for v in rnd]


def typical(items: list, counts, n: int) -> list:
    """The n items whose count is nearest the median count, in their
    original (seeded) order."""
    counts = np.asarray(counts, dtype=np.float64)
    keep = np.argsort(np.abs(counts - np.median(counts)), kind="stable")[:n]
    return [items[i] for i in sorted(keep)]


def count_in_bbox(pts: dict[str, np.ndarray], bbox) -> int:
    lat0, lon0, lat1, lon1 = bbox
    la, lo = pts["lat"], pts["lon"]
    return int(np.count_nonzero((la >= lat0) & (la <= lat1) & (lo >= lon0) & (lo <= lon1)))


# --------------------------------------------------------------------------
# street world (viewport_read tiles, diff_stream)
# --------------------------------------------------------------------------


def _walk(rng, lat, lon, k, step):
    d = rng.normal(0.0, step, size=(k - 1, 2))
    la = np.concatenate(([lat], lat + np.cumsum(d[:, 0])))
    lo = np.concatenate(([lon], lon + np.cumsum(d[:, 1])))
    return np.round(la * I7).astype(np.int64), np.round(lo * I7).astype(np.int64)


def gen_street_ways(rng, n_clusters: int, ways_per: int, spread: float, step: float):
    """Way polylines of 3..10 points clustered around seeded centres.
    Returns (way_pts, centres): way_pts is a list of (lat_i32[], lon_i32[])."""
    cidx = rng.choice(len(CENTRES), size=n_clusters, replace=False)
    centres = CENTRES[cidx] + rng.normal(0.0, 0.05, size=(n_clusters, 2))
    ways = []
    for clat, clon in centres:
        for _ in range(ways_per):
            k = int(rng.integers(3, 11))
            s = rng.normal(0.0, spread, size=2)
            ways.append(_walk(rng, clat + s[0], clon + s[1], k, step))
    return ways, centres


def write_way_geometry(way_pts, path: str) -> None:
    """(way_id, pts array<struct<lat,lon>>) parquet — the resolved-way shape
    the geometry operators take."""
    pt_t = pa.struct([("lat", pa.int32()), ("lon", pa.int32())])
    pts = [
        [{"lat": int(a), "lon": int(b)} for a, b in zip(la, lo)] for la, lo in way_pts
    ]
    tbl = pa.table(
        {
            "way_id": pa.array(np.arange(1, len(way_pts) + 1), pa.int64()),
            "pts": pa.array(pts, pa.list_(pt_t)),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path)


def _tile_lon(tx: float, zoom: int) -> float:
    return tx / (1 << zoom) * 360.0 - 180.0


def _tile_lat(ty: float, zoom: int) -> float:
    return float(np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * ty / (1 << zoom))))))


def gen_tile_viewports(rng, centres, way_pts, n: int, zoom: int, tiles_across: int):
    """Tile-render viewports of exactly `tiles_across` x `tiles_across`
    tiles at `zoom`: the tile block around the tile corner nearest a seeded
    point near a cluster centre, inset an eighth of a tile so no
    neighbouring tile is touched. Of 4n candidates the n whose way count
    (ways whose first point is in the bbox: what a render reads) is
    nearest the median are kept, in seeded order, so every render draws
    about as much whatever the seed."""
    first = np.array([(la[0], lo[0]) for la, lo in way_pts], dtype=np.int64)
    cands, counts = [], []
    h, e = tiles_across // 2, 0.125
    for i in rng.integers(0, len(centres), size=4 * n):
        lat, lon = centres[i] + rng.normal(0.0, 0.01, size=2)
        tx = round((lon + 180.0) / 360.0 * (1 << zoom))
        sn = np.sin(np.radians(lat))
        ty = round((0.5 - np.log((1.0 + sn) / (1.0 - sn)) / (4.0 * np.pi)) * (1 << zoom))
        x0, x1, y0, y1 = tx - h + e, tx - h + tiles_across - e, ty - h + e, ty - h + tiles_across - e
        bbox = (int(_tile_lat(y1, zoom) * I7), int(_tile_lon(x0, zoom) * I7),
                int(_tile_lat(y0, zoom) * I7), int(_tile_lon(x1, zoom) * I7))
        cands.append(bbox)
        counts.append(np.count_nonzero((first[:, 0] >= bbox[0]) & (first[:, 0] <= bbox[2])
                                       & (first[:, 1] >= bbox[1]) & (first[:, 1] <= bbox[3])))
    return typical(cands, counts, n)


# --------------------------------------------------------------------------
# OSM world + diff sequence (diff_stream)
# --------------------------------------------------------------------------


class OsmWorld:
    """Plain-Python OSM state: the reference the final stores are checked
    against, mutated by apply() exactly as the diff rows say."""

    def __init__(self):
        self.nodes: dict[int, tuple[int, int, int]] = {}  # id -> (version, lat, lon)
        self.ways: dict[int, tuple[int, list[int]]] = {}  # id -> (version, refs)
        self.rels: dict[int, tuple[int, list[tuple[int, int, str]]]] = {}
        self.ring_ways: set[int] = set()
        self.next_way = 1  # ids are never reused after a delete

    def apply(self, rows) -> None:
        for kind, action, eid, ver, lat, lon, refs, members, _tags in rows:
            table = (self.nodes, self.ways, self.rels)[kind]
            if action == "delete":
                table.pop(eid, None)
            elif kind == 0:
                table[eid] = (ver, lat, lon)
            elif kind == 1:
                table[eid] = (ver, list(refs))
            else:
                table[eid] = (ver, [tuple(m) for m in members])

    def tables(self):
        """(nodes, ways, relations) arrow tables in the osmpbf writer shape."""
        tags_t = pa.map_(pa.string(), pa.string())
        nid = sorted(self.nodes)
        nodes = pa.table(
            {
                "id": pa.array(nid, pa.int64()),
                "version": pa.array([self.nodes[i][0] for i in nid], pa.int32()),
                "lat": pa.array([self.nodes[i][1] for i in nid], pa.int32()),
                "lon": pa.array([self.nodes[i][2] for i in nid], pa.int32()),
                "tags": pa.array([[] for _ in nid], tags_t),
            }
        )
        wid = sorted(self.ways)
        ways = pa.table(
            {
                "id": pa.array(wid, pa.int64()),
                "version": pa.array([self.ways[i][0] for i in wid], pa.int32()),
                "refs": pa.array([self.ways[i][1] for i in wid], pa.list_(pa.int64())),
                "tags": pa.array(
                    [[("highway", "residential")] for _ in wid], tags_t
                ),
            }
        )
        rid = sorted(self.rels)
        mem_t = pa.struct([("mtype", pa.int8()), ("ref", pa.int64()), ("role", pa.string())])
        rels = pa.table(
            {
                "id": pa.array(rid, pa.int64()),
                "version": pa.array([self.rels[i][0] for i in rid], pa.int32()),
                "members": pa.array(
                    [
                        [{"mtype": m[0], "ref": m[1], "role": m[2]} for m in self.rels[i][1]]
                        for i in rid
                    ],
                    pa.list_(mem_t),
                ),
                "tags": pa.array([[("type", "multipolygon")] for _ in rid], tags_t),
            }
        )
        return nodes, ways, rels

    def way_pts(self, wid: int) -> list[tuple[int, int]]:
        return [self.nodes[r][1:] for r in self.ways[wid][1]]


def gen_osm_world(rng, n_clusters: int, streets_per: int, rels_per: int) -> OsmWorld:
    """Streets (open polylines, some sharing junction nodes) and
    multipolygon relations (one closed ring way each) around seeded
    centres."""
    w = OsmWorld()
    nid = 1
    wid = 1
    cidx = rng.choice(len(CENTRES), size=n_clusters, replace=False)
    for clat, clon in CENTRES[cidx]:
        cluster_nodes: list[int] = []
        for _ in range(streets_per):
            k = int(rng.integers(3, 9))
            s = rng.normal(0.0, 0.02, size=2)
            la, lo = _walk(rng, clat + s[0], clon + s[1], k, 0.002)
            refs = []
            if cluster_nodes and rng.random() < 0.4:  # start at a junction
                refs.append(int(cluster_nodes[rng.integers(len(cluster_nodes))]))
            for a, b in zip(la, lo):
                w.nodes[nid] = (1, int(a), int(b))
                cluster_nodes.append(nid)
                refs.append(nid)
                nid += 1
            w.ways[wid] = (1, refs)
            wid += 1
        for _ in range(rels_per):
            nv = int(rng.integers(6, 12))
            c = rng.normal(0.0, 0.02, size=2)
            r = 0.001 + 0.002 * rng.random()
            t = np.sort(rng.random(nv)) * 2 * np.pi
            refs = []
            for a in t:
                w.nodes[nid] = (
                    1,
                    int(round((clat + c[0] + r * np.sin(a)) * I7)),
                    int(round((clon + c[1] + r * np.cos(a)) * I7)),
                )
                refs.append(nid)
                nid += 1
            refs.append(refs[0])
            w.ways[wid] = (1, refs)
            w.ring_ways.add(wid)
            w.rels[len(w.rels) + 1] = (1, [(1, wid, "outer")])
            wid += 1
    w.next_way = wid
    return w


def gen_diff_batch(rng, w: OsmWorld, n_moves: int):
    """One consolidated replication interval (one row per changed entity,
    DIFF_SCHEMA order): `n_moves` node moves, a new node and a new street
    way from an existing node, the delete of a street way and a relation
    version bump. Every batch has this shape, so the warm-up batch runs
    every path a timed batch runs. Applies itself to `w`."""
    rows = []
    street_nodes = sorted(
        {r for i, (_, refs) in w.ways.items() if i not in w.ring_ways for r in refs}
    )
    moved = rng.choice(street_nodes, size=n_moves, replace=False)
    for n in sorted(int(x) for x in moved):
        v, la, lo = w.nodes[n]
        d = rng.integers(-5000, 5001, size=2)
        rows.append((0, "upsert", n, v + 1, la + int(d[0]), lo + int(d[1]), None, None, None))
    new_node = max(w.nodes) + 1
    base = int(street_nodes[rng.integers(len(street_nodes))])
    _, la, lo = w.nodes[base]
    rows.append((0, "upsert", new_node, 1, la + 3000, lo - 3000, None, None, None))
    rows.append(
        (1, "upsert", w.next_way, 1, None, None, [base, new_node], None, {"highway": "path"})
    )
    w.next_way += 1
    streets = sorted(i for i in w.ways if i not in w.ring_ways)
    victim = int(streets[rng.integers(len(streets))])
    rows.append((1, "delete", victim, w.ways[victim][0] + 1, None, None, None, None, None))
    rid = int(sorted(w.rels)[rng.integers(len(w.rels))])
    v, members = w.rels[rid]
    rows.append((2, "upsert", rid, v + 1, None, None, None, members, {"type": "multipolygon"}))
    w.apply(rows)
    return rows
