"""Seeded OSM XML generator with closed-form shaped-table row counts.

Writes ``n_files`` OSM documents (``part-NNNN.osm``). Every element's
*shape* — which tags it carries and how many ``<nd>`` refs — follows its
index, so :func:`expected_counts` gives the exact row count of each of the
five shaped tables without parsing. The seed picks the *values*: ids of
referenced nodes, coordinates, users, timestamps, and which dirty phone,
postcode or café-name variant each tag holds. The tags cover what the
cleaning layer acts on: phone numbers of every digit length the
normalizer dispatches on plus a junk value, postcodes clean, unspaced and
padded, a two-colon key (``addr:street:name``), an upper-case namespace
(``naam:NL``) and a key with a problem character (``fix me``) that the
default shaping drops. Each file also holds one ``<relation>``, which the
pipeline ignores.
"""

from __future__ import annotations

import os
import random

USERS = ["Dutch Mapper", "amster_dan", "grachten_gids", "bike+canal", "Jörg"]
AMENITIES = ["restaurant", "restaurant", "cafe", "pub", "fast_food", "bar", "bench"]
CAFE_NAMES = ["Coffeeshop Basjoe", "Coffee company", "coffee corner", "Café X",
              "Bakkerij de Zon", "COFFEE & CO"]
PHONES = ["0206278", "09008020", "206255975", "0206278954", "31206255975",
          "310206255975", "0031900802060", "+31 (0)20 62 55 975",
          "0031 900 8020", "tel-unknown"]
POSTCODE_FORMS = ["{d} {a}", "{d}{a}", " {d}{a} "]
WAY_NAMES = ["Prinsengracht", "Keizersgracht", "Damrak", "Rokin", "Spui"]


def _m(k: int, r: int, n: int) -> int:
    """How many j in [0, n) have j % k == r."""
    return (n - r + k - 1) // k if r < n else 0


def expected_counts(n_files: int, nodes: int, ways: int) -> dict[str, int]:
    """Exact shaped-table row counts under the default ShapeConfig."""
    node_tags = (2 * _m(5, 0, nodes) + _m(10, 0, nodes) + _m(20, 0, nodes)
                 + 2 * _m(7, 3, nodes) + _m(11, 4, nodes))
    way_nodes = (3 * ways + sum(r * _m(4, r, ways) for r in range(4))
                 + _m(5, 0, ways))
    way_tags = 2 * ways + 2 * _m(3, 0, ways) + _m(6, 1, ways)
    return {
        "nodes": n_files * nodes,
        "nodes_tags": n_files * node_tags,
        "ways": n_files * ways,
        "ways_tags": n_files * way_tags,
        "ways_nodes": n_files * way_nodes,
    }


def _attrs(rng: random.Random, eid: int) -> str:
    user = rng.choice(USERS)
    uid = 3_781_654 + USERS.index(user) * 1000 + rng.randrange(40)
    ts = (f"{rng.randrange(2010, 2017)}-{rng.randrange(1, 13):02d}-"
          f"{rng.randrange(1, 29):02d}T{rng.randrange(24):02d}:"
          f"{rng.randrange(60):02d}:{rng.randrange(60):02d}Z")
    return (f'id="{eid}" user="{user}" uid="{uid}" version="{rng.randrange(1, 9)}" '
            f'changeset="{42_679_914 + rng.randrange(5000)}" timestamp="{ts}"')


def _tag(k: str, v: str) -> str:
    return f'    <tag k="{k}" v="{v}"/>\n'


def _postcode(rng: random.Random) -> str:
    digits = rng.randrange(1011, 1109)
    letters = rng.choice("ABCDEGHJKLMNPRSTVWXZ") + rng.choice("ABCDEGHJKLMNPRSTVWXZ")
    return rng.choice(POSTCODE_FORMS).format(d=digits, a=letters)


def _node(rng: random.Random, eid: int, j: int) -> str:
    lat = 52.30 + rng.random() * 0.15
    lon = 4.75 + rng.random() * 0.25
    head = f'  <node {_attrs(rng, eid)} lat="{lat:.7f}" lon="{lon:.7f}"'
    tags = []
    if j % 5 == 0:
        tags.append(_tag("amenity", rng.choice(AMENITIES)))
        tags.append(_tag("addr:postcode", _postcode(rng)))
    if j % 10 == 0:
        tags.append(_tag("addr:street:name", rng.choice(WAY_NAMES)))
    if j % 20 == 0:
        tags.append(_tag("name", rng.choice(CAFE_NAMES).replace("&", "&amp;")))
    if j % 7 == 3:
        tags.append(_tag("phone", rng.choice(PHONES)))
        tags.append(_tag("naam:NL", rng.choice(WAY_NAMES)))
    if j % 11 == 4:
        tags.append(_tag("fix me", "check"))
        tags.append(_tag("source", rng.choice(["BAG", "survey", "bing"])))
    if not tags:
        return head + "/>\n"
    return head + ">\n" + "".join(tags) + "  </node>\n"


def _way(rng: random.Random, eid: int, j: int, node_base: int, nodes: int) -> str:
    refs = [node_base + rng.randrange(nodes) for _ in range(3 + j % 4)]
    if j % 5 == 0:
        refs.append(refs[0])  # closed polygon: the first ref repeats
    parts = [f"  <way {_attrs(rng, eid)}>\n"]
    parts.extend(f'    <nd ref="{r}"/>\n' for r in refs)
    parts.append(_tag("highway", rng.choice(["cycleway", "residential", "footway"])))
    parts.append(_tag("source", rng.choice(["BAG", "survey"])))
    if j % 3 == 0:
        parts.append(_tag("building", "yes"))
        parts.append(_tag("addr:postcode", _postcode(rng)))
    if j % 6 == 1:
        parts.append(_tag("name", rng.choice(WAY_NAMES)))
    if j % 9 == 2:
        parts.append(_tag("note?", "dropped by the problem-key filter"))
    parts.append("  </way>\n")
    return "".join(parts)


def generate(out_dir: str, seed: int, n_files: int, nodes: int, ways: int) -> int:
    """Write the files under ``out_dir``; returns the total XML bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for f in range(n_files):
        rng = random.Random(seed * 1_000_003 + f)
        node_base = f * 10_000_000
        way_base = 900_000_000 + f * 1_000_000
        chunks = ['<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n']
        chunks.extend(_node(rng, node_base + j, j) for j in range(nodes))
        chunks.extend(_way(rng, way_base + j, j, node_base, nodes) for j in range(ways))
        chunks.append(f'  <relation {_attrs(rng, 7_000_000 + f)}>\n'
                      f'    <member type="way" ref="{way_base}" role="outer"/>\n'
                      "  </relation>\n</osm>\n")
        data = "".join(chunks).encode("utf-8")
        with open(os.path.join(out_dir, f"part-{f:04d}.osm"), "wb") as fh:
            fh.write(data)
        total += len(data)
    return total
