"""Seeded synthetic OpenStreetMap XML plus the pipeline outputs it implies.

Writes `files` .osm documents of nodes, ways and relations in the layout of
an OSM extract, with the defects the paper's cleaning targets: abbreviated
street types, lowercase postcodes and tag keys with problem characters.
While writing, `generate` replays the pipeline's documented semantics in
plain Python (census, star row counts, cleaned street-type audit, top
contributors and amenities, distinct contributors) and stores the results,
so the benchmark can check the engine's outputs for any seed.
"""
import json
import os
import re
from xml.sax.saxutils import quoteattr

import numpy as np

VERSION = 3

PROBLEM = re.compile(r"[=+/&<>;'\"?%#$@,. \t\r\n]")
MAPPING = {"St": "Street", "St.": "Street", "Ave": "Avenue", "Rd": "Road"}
EXPECTED_TYPES = {"Street", "Avenue", "Road", "Boulevard", "Drive", "Court",
                  "Place", "Lane", "Way", "Trail", "Parkway", "Commons",
                  "North", "South", "East", "West"}
BASES = ["King", "Queen", "Bloor", "Dundas", "Yonge", "College", "Spadina",
         "Bathurst", "St. Clair", "Ossington", "Harbord", "Front", "Adelaide",
         "Richmond", "Wellesley", "Carlton", "Gerrard", "Danforth", "Eglinton",
         "Lawrence", "Finch", "Sheppard", "Jarvis", "Church", "Parliament"]
STREET_TYPES = ["Street", "St", "St.", "Avenue", "Ave", "Road", "Rd",
                "Boulevard", "Blvd", "Drive", "Dr", "Crescent", "Cres", "Lane",
                "Court", "Place", "Circle", "Gardens", "Terrace", "Street West",
                "Avenue East"]
AMENITIES = ["restaurant", "cafe", "bench", "parking", "fast_food", "bank",
             "pharmacy", "school", "post_box", "bicycle_parking", "pub",
             "dentist", "library", "fuel", "toilets"]
HIGHWAYS = ["residential", "primary", "secondary", "tertiary", "service",
            "footway", "cycleway"]
PROBLEM_KEYS = ["fixme?", "note.1", "addr street", "weird#char", "name=alt"]
# The star's documented columns and types (name:type), which ingest must
# produce without running a job.
TAGS = ["id:bigint", "key:string", "value:string", "type:string"]
HEADER = ["user:string", "uid:bigint", "version:string", "changeset:bigint",
          "timestamp:string"]
STAR_SCHEMA = {
    "nodes": ["id:bigint", "lat:double", "lon:double", *HEADER],
    "nodes_tags": TAGS,
    "ways": ["id:bigint", *HEADER],
    "ways_tags": TAGS,
    "ways_nodes": ["id:bigint", "node_id:bigint", "position:int"],
}


def _zipf(rng, n, k, a=1.1):
    w = 1.0 / np.arange(1, k + 1) ** a
    return rng.choice(k, n, p=w / w.sum())


def _split(k):
    if ":" in k:
        t, rest = k.split(":", 1)
        return rest, t
    return k, "regular"


def _clean(key, value, typ):
    if typ == "addr" and key == "street":
        m = re.search(r"(\S+)$", value)
        last = m.group(1) if m else ""
        return value[:len(value) - len(last)] + MAPPING.get(last, last)
    if typ == "addr" and key == "postcode":
        return value.upper()
    return value


class _Draws:
    """Per-file random draws, taken as whole arrays for speed."""

    def __init__(self, rng, n, owner, first_id):
        ids = np.arange(first_id, first_id + n)
        self.ids = ids
        self.uid = owner[ids % len(owner)]
        self.version = rng.integers(1, 6, n)
        self.changeset = rng.integers(10**6, 10**7, n)
        self.ts = np.stack([rng.integers(10, 20, n), rng.integers(1, 13, n),
                            rng.integers(1, 29, n), rng.integers(0, 24, n),
                            rng.integers(0, 60, n), rng.integers(0, 60, n)], axis=1)
        self.r = rng.random(n)
        self.r2 = rng.random(n)
        self.r3 = rng.random(n)
        self.small = rng.integers(0, 500, n)
        self.amenity = _zipf(rng, n, len(AMENITIES))
        self.base = rng.integers(0, len(BASES), n)
        self.stype = rng.integers(0, len(STREET_TYPES), n)
        self.house = rng.integers(1, 2000, n)
        self.pc = rng.integers(0, 10, (n, 5))
        self.problem = rng.integers(0, len(PROBLEM_KEYS), n)

    def attrs(self, i):
        y, mo, d, h, mi, se = self.ts[i]
        uid = int(self.uid[i])
        return (f'id="{self.ids[i]}" user="mapper_{uid}" uid="{uid}" '
                f'version="{self.version[i]}" changeset="{self.changeset[i]}" '
                f'timestamp="20{y}-{mo:02d}-{d:02d}T{h:02d}:{mi:02d}:{se:02d}Z"'), uid

    def street(self, i):
        return f"{BASES[self.base[i]]} {STREET_TYPES[self.stype[i]]}"

    def node_tags(self, i):
        r, tags = self.r[i], []
        if r < 0.12:
            tags.append(("amenity", AMENITIES[self.amenity[i]]))
            tags.append(("name", f"Place {self.small[i]}"))
        if r < 0.06 or 0.5 < r < 0.58:
            tags.append(("addr:street", self.street(i)))
            tags.append(("addr:housenumber", str(self.house[i])))
            if self.r2[i] < 0.7:
                a, b, c, e, f = self.pc[i]
                pc = f"m{a}{'abcdefghjk'[b]} {c}{'abcdefghjk'[e]}{f}"
                tags.append(("addr:postcode", pc if self.r3[i] < 0.5 else pc.upper()))
        if 0.9 < r < 0.93:
            tags.append((PROBLEM_KEYS[self.problem[i]], "x"))
            tags.append(("source", "survey"))
        if 0.95 < r:
            tags.append(("name:en:alt", f"Spot {self.small[i] % 100}"))
            tags.append(("natural", "tree"))
        return tags


def generate(out_dir, seed, nodes, files=4):
    """Writes the XML files into `out_dir`/xml and the expected outputs into
    `out_dir`/expected.json (idempotent)."""
    stamp = os.path.join(out_dir, "_DONE")
    want = {"version": VERSION, "seed": seed, "nodes": nodes, "files": files}
    if os.path.exists(stamp):
        with open(stamp) as f:
            if json.load(f) == want:
                return
    xml_dir = os.path.join(out_dir, "xml")
    os.makedirs(xml_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    owner = _zipf(rng, 4 * nodes, 150) + 1000  # uid of each element id
    census = {"node": 0, "way": 0, "relation": 0}
    counts = {t: 0 for t in ["nodes", "nodes_tags", "ways", "ways_tags", "ways_nodes"]}
    contrib, streets, amenities = {}, {}, {}

    def keep_tag(k, v, which):
        if PROBLEM.search(k):
            return
        counts[which] += 1
        key, typ = _split(k)
        val = _clean(key, v, typ)
        if typ == "addr" and key == "street":
            last = re.search(r"(\S+)$", val).group(1)
            if last not in EXPECTED_TYPES:
                n, vals = streets.get(last, (0, set()))
                vals.add(val)
                streets[last] = (n + 1, vals)
        if which == "nodes_tags" and key == "amenity":
            amenities[val] = amenities.get(val, 0) + 1

    def element(lines, tag, head, children, tags, which):
        lines.append(f"  <{tag} {head}>" if children or tags else f"  <{tag} {head}/>")
        lines.extend(children)
        for k, v in tags:
            lines.append(f"    <tag k={quoteattr(k)} v={quoteattr(v)}/>")
            if which:
                keep_tag(k, v, which)
        if children or tags:
            lines.append(f"  </{tag}>")

    next_id = 1
    per_file = nodes // files
    n_ways, n_rels = max(2, per_file // 5), max(2, per_file // 100)
    for fi in range(files):
        lines = ['<?xml version="1.0" encoding="UTF-8"?>',
                 '<osm version="0.6" generator="perfbench">']
        nd = _Draws(rng, per_file, owner, next_id)
        lat = 43.6 + rng.uniform(-0.1, 0.1, per_file)
        lon = -79.4 + rng.uniform(-0.1, 0.1, per_file)
        for i in range(per_file):
            a, uid = nd.attrs(i)
            contrib[uid] = contrib.get(uid, 0) + 1
            element(lines, "node", f'{a} lat="{lat[i]:.7f}" lon="{lon[i]:.7f}"', [],
                    nd.node_tags(i), "nodes_tags")
        census["node"] += per_file
        counts["nodes"] += per_file
        node_ids = nd.ids
        next_id += per_file

        wd = _Draws(rng, n_ways, owner, next_id)
        highway = rng.integers(0, len(HIGHWAYS), n_ways)
        n_refs = rng.integers(2, 9, n_ways)
        for i in range(n_ways):
            a, uid = wd.attrs(i)
            contrib[uid] = contrib.get(uid, 0) + 1
            refs = rng.choice(node_ids, n_refs[i], replace=False)
            name = wd.street(i)
            tags = [("highway", HIGHWAYS[highway[i]]), ("name", name)]
            if wd.r[i] < 0.3:
                tags.append(("addr:street", name))
            if wd.r2[i] < 0.1:
                tags.append(("fixme?", "check"))
            element(lines, "way", a, [f'    <nd ref="{ref}"/>' for ref in refs], tags,
                    "ways_tags")
            counts["ways_nodes"] += len(refs)
        census["way"] += n_ways
        counts["ways"] += n_ways
        way_ids = wd.ids
        next_id += n_ways

        rd = _Draws(rng, n_rels, owner, next_id)
        for i in range(n_rels):
            a, _uid = rd.attrs(i)
            members = [f'    <member type="way" ref="{ref}" role="outer"/>'
                       for ref in rng.choice(way_ids, 2, replace=False)]
            element(lines, "relation", a, members, [("type", "multipolygon")], None)
        census["relation"] += n_rels
        next_id += n_rels
        lines.append("</osm>")
        with open(os.path.join(xml_dir, f"part{fi}.osm"), "w") as f:
            f.write("\n".join(lines) + "\n")

    top = sorted(contrib.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    expected = {
        "census": census,
        "load_star": STAR_SCHEMA,
        "process_map": counts,
        "audit_street_types": [[t, n, sorted(vs)] for t, (n, vs) in sorted(streets.items())],
        "top_contributors": [[f"mapper_{uid}", uid, c] for uid, c in top],
        "top_amenities": [[a, c] for a, c in
                          sorted(amenities.items(), key=lambda kv: (-kv[1], kv[0]))[:10]],
        "contributor_count": len(contrib),
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f)
    with open(stamp, "w") as f:
        json.dump(want, f)


def xml_bytes(xml_dir):
    return sum(os.path.getsize(os.path.join(xml_dir, f)) for f in os.listdir(xml_dir))
