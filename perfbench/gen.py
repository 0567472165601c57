"""Seeded input generators and their plain-Python expectations.

Everything here is a pure function of the seed (``random.Random``) and
writes only with pyarrow and the standard library, so set-up never needs
Spark to build inputs and the program under test receives nothing but files.

Two input families:

* ``make_pages`` - a Common-Crawl-style page table ``(url, warc_ts, html,
  text, lang)`` for ``pipeline.kg.run_kg_pipeline``. Duplicates are planted
  with known shares, so the number of pages that page-level dedup keeps is
  known exactly before the pipeline runs.
* ``make_rml`` - a mapping document plus a CSV child source and a nested JSON
  parent source for the ``rml`` parser -> compiler -> writers path;
  ``rml_expectation`` computes, in plain Python, the count and checksums of
  the N-Triples and quad multiset the mapping must produce.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import math
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# checksum shared by the expectations below and the output checks


def line_hash(line: str) -> int:
    """64-bit hash of one output line, so a checksum is a plain
    (order-independent) sum of these. Python salts ``str`` hashes per
    process, which is fine: a run computes the expectation and checks its
    outputs in one process. It is used over a digest for speed: md5 of every
    line takes about a second per check on the 4-core box."""
    return hash(line)


# --------------------------------------------------------------------------
# pages


EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
PAGE_ZIPF_S = 1.1
ENTITY_SHARE = 0.10  # share of words that are entity mentions
VARIANT_SHARE = 0.15  # share of mentions using the variant surface


@dataclass(frozen=True)
class PageSpec:
    """Sizes of the page table. The defaults are the benchmark's."""

    n_pages: int = 1000
    min_words: int = 240
    max_words: int = 399
    n_entities: int = 360
    n_files: int = 4


@dataclass
class Pages:
    n_pages: int
    expected_kept: int
    surfaces: set[str]
    shares: dict = field(default_factory=dict)
    digest: str = ""


def _entity_names(rng: random.Random, n: int) -> list[str]:
    """n distinct names of 6..9 random letters. Unrelated names share almost
    no character 3-grams, so canonicalisation merges exactly the planted
    variant pairs and its CC graph has the same shape for every seed. No name
    ends in 's', so a variant (name + 's') never equals another name."""
    names: set[str] = set()
    while len(names) < n:
        w = "".join(chr(97 + rng.randrange(26)) for _ in range(rng.randint(6, 9)))
        if not w.endswith("s"):
            names.add(w)
    return sorted(names)


def _filler(rng: random.Random) -> str:
    # 3 letters: below the mention detector's 4-character minimum, and
    # 26^3 of them keep word 3-grams of unrelated pages disjoint
    return "".join(chr(97 + rng.randrange(26)) for _ in range(3))


def _zipf_fit(counts: list[int]) -> float:
    """Least-squares slope of log(count) on log(rank) over ranks whose count
    is at least 5 - the realized Zipf exponent of the mention stream."""
    pts = [(math.log(r + 1), math.log(c)) for r, c in
           enumerate(sorted(counts, reverse=True)) if c >= 5]
    if len(pts) < 3:
        return 0.0
    mx = sum(x for x, _ in pts) / len(pts)
    my = sum(y for _, y in pts) / len(pts)
    sxx = sum((x - mx) ** 2 for x, _ in pts)
    sxy = sum((x - mx) * (y - my) for x, y in pts)
    return -sxy / sxx


def page_rows(seed: int, spec: PageSpec = PageSpec()) -> tuple[list[dict], dict]:
    """The page rows and their planted facts, without writing anything."""
    rng = random.Random(f"pages-{seed}")
    names = _entity_names(rng, spec.n_entities)
    weights = [1.0 / (r + 1) ** PAGE_ZIPF_S for r in range(len(names))]
    cum, acc = [], 0.0
    for w in weights:
        acc += w
        cum.append(acc)

    n_exact = round(spec.n_pages * EXACT_DUP_SHARE)
    n_near = round(spec.n_pages * NEAR_DUP_SHARE)
    n_base = spec.n_pages - n_exact - n_near
    mention_counts = [0] * len(names)
    n_mentions = n_variants = 0
    surfaces: set[str] = set()

    texts: list[str] = []
    for _ in range(n_base):
        words = []
        for _ in range(rng.randint(spec.min_words, spec.max_words)):
            if rng.random() < ENTITY_SHARE:
                r = bisect.bisect_left(cum, rng.random() * acc)
                s = names[r]
                if rng.random() < VARIANT_SHARE:
                    s += "s"
                    n_variants += 1
                mention_counts[r] += 1
                n_mentions += 1
                surfaces.add(s)
                words.append(s)
            else:
                words.append(_filler(rng))
        texts.append(" ".join(words))

    # each duplicate copies a DISTINCT base page, so every duplicate cluster
    # has exactly one base page and dedup must keep exactly n_base pages.
    # A near duplicate appends one filler word: word-3-gram Jaccard with its
    # base is |G| / (|G| + 1) > 0.99, far above the 0.5 verify bar.
    sources = rng.sample(range(n_base), n_exact + n_near)
    texts += [texts[i] for i in sources[:n_exact]]
    texts += [texts[i] + " " + _filler(rng) for i in sources[n_exact:]]
    order = list(range(len(texts)))
    rng.shuffle(order)

    rows = []
    for pos, i in enumerate(order):
        text = texts[i]
        rows.append({
            "url": f"https://site{rng.randrange(97)}.example.org/p/{seed}/{pos:06d}",
            "warc_ts": 1_600_000_000_000_000 + rng.randrange(30 * 86400) * 1_000_000,
            "html": (f"<html><head><title>p{pos}</title></head><body><p>{text}"
                     f"</p></body></html>").encode("utf-8"),
            "text": text,
            "lang": rng.choice(("en", "es", "de", "fr", "zh")),
        })
    facts = {
        "expected_kept": n_base,
        "surfaces": surfaces,
        "shares": {
            "exact_dup_share": n_exact / spec.n_pages,
            "near_dup_share": n_near / spec.n_pages,
            "variant_share": n_variants / max(n_mentions, 1),
            "zipf_s_fit": round(_zipf_fit([c for c in mention_counts if c]), 4),
            "entity_surfaces": len(surfaces),
        },
    }
    return rows, facts


def make_pages(seed: int, out_dir: str, spec: PageSpec = PageSpec()) -> Pages:
    """Write the page table as ``spec.n_files`` parquet files under out_dir."""
    rows, facts = page_rows(seed, spec)
    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    digest = hashlib.md5()
    step = math.ceil(len(rows) / spec.n_files)
    for k in range(spec.n_files):
        part = rows[k * step:(k + 1) * step]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, os.path.join(out_dir, f"part-{k:03d}.parquet"))
        for r in part:
            digest.update(r["html"])
    return Pages(len(rows), facts["expected_kept"], facts["surfaces"],
                 facts["shares"], digest.hexdigest())


# --------------------------------------------------------------------------
# RML

NS = "http://bench.example.org/"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
XSD = "http://www.w3.org/2001/XMLSchema#"
ORDERS_GRAPH = NS + "graph/orders"
CUSTOMERS_GRAPH = "Customers"  # no graphMap: the map name is the graph

MAPPING = """\
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://bench.example.org/> .

<#Orders> a rr:TriplesMap ;
  rml:logicalSource [ rml:source "orders" ; rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://bench.example.org/order/{order_id}" ;
                  rr:class ex:Order ;
                  rr:graphMap [ rr:constant <http://bench.example.org/graph/orders> ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:amount ;
      rr:objectMap [ rml:reference "amount" ; rr:datatype xsd:decimal ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:note ;
      rr:objectMap [ rml:reference "note" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:city ;
      rr:objectMap [ rr:template "http://bench.example.org/city/{city}" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:customer ;
      rr:objectMap [ rr:parentTriplesMap <#Customers> ;
                     rr:joinCondition [ rr:child "cust" ; rr:parent "cid" ] ] ] .

<#Customers> a rr:TriplesMap ;
  rml:logicalSource [ rml:source "customers.json" ;
                      rml:referenceFormulation ql:JSONPath ;
                      rml:iterator "$.items[*]" ] ;
  rr:subjectMap [ rr:template "http://bench.example.org/customer/{handle}" ;
                  rr:class ex:Customer ] ;
  rr:predicateObjectMap [ rr:predicate ex:name ;
      rr:objectMap [ rml:reference "profile.name" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:since ;
      rr:objectMap [ rml:reference "since" ; rr:datatype xsd:date ] ] .
"""


DUP_ROW_SHARE = 0.10  # rows repeating an earlier projected row
CITY_SPACE_SHARE = 0.10  # city values with a space: IRI dropped
EMPTY_NOTE_SHARE = 0.20  # empty reference: term dropped
DANGLING_CUST_SHARE = 0.03  # join key with no parent: no triple
JOIN_ZIPF_S = 1.05  # skew of the order -> customer join key
CID_REPEAT_SHARE = 0.05  # later parent rows reusing a cid
HANDLE_SPACE_SHARE = 0.03  # parent subject IRI dropped
NO_PROFILE_SHARE = 0.05


@dataclass(frozen=True)
class RmlSpec:
    """Sizes of the RML sources. The defaults are the benchmark's."""

    n_orders: int = 45_000
    n_customers: int = 2_250
    n_files: int = 4


@dataclass
class RmlExpectation:
    triples: int
    nt_checksum: int
    quad_checksum: int
    shares: dict = field(default_factory=dict)


_WORDS = ["alpha", "bravo", "delta", "echo", "gold", "iron", "lima", "nova",
          "oscar", "polar", "quartz", "river", "sierra", "tango", "ultra"]
_CITIES = ["Paris", "Lyon", "Oslo", "Bergen", "Madrid", "Porto", "Berlin",
           "Bonn", "Turin", "Lille", "Ghent", "Bern", "Graz", "Cork"]


def rml_rows(seed: int, spec: RmlSpec = RmlSpec()) -> tuple[list, list]:
    """(customer records in file order, order rows in file order)."""
    rng = random.Random(f"rml-{seed}")
    customers = []
    for i in range(spec.n_customers):
        cid = f"c{i:06d}"
        if i and rng.random() < CID_REPEAT_SHARE:
            cid = customers[rng.randrange(len(customers))]["cid"]
        rec = {"cid": cid,
               "handle": f"h{rng.randrange(10**9):09d}",
               "since": f"20{rng.randrange(10, 25)}-{rng.randrange(1, 13):02d}"
                        f"-{rng.randrange(1, 29):02d}"}
        if rng.random() < HANDLE_SPACE_SHARE:
            rec["handle"] = rec["handle"][:4] + " " + rec["handle"][4:]
        if rng.random() >= NO_PROFILE_SHARE:
            rec["profile"] = {"name": f"{rng.choice(_WORDS).title()} "
                                      f"{rng.choice(_WORDS).title()}"}
        customers.append(rec)
        if rng.random() < DUP_ROW_SHARE / 2:
            customers.append(dict(rec))  # an exact duplicate record

    n_keys = spec.n_customers
    cum, acc = [], 0.0
    for r in range(n_keys):
        acc += 1.0 / (r + 1) ** JOIN_ZIPF_S
        cum.append(acc)
    orders: list[list[str]] = []
    for i in range(spec.n_orders):
        if orders and rng.random() < DUP_ROW_SHARE:
            dup = list(orders[rng.randrange(len(orders))])
            dup[5] = str(rng.randrange(10**9))  # unreferenced column differs
            orders.append(dup)
            continue
        if rng.random() < DANGLING_CUST_SHARE:
            cust = f"x{rng.randrange(10**6):06d}"
        else:
            cust = f"c{bisect.bisect_left(cum, rng.random() * acc):06d}"
        city = rng.choice(_CITIES)
        if rng.random() < CITY_SPACE_SHARE:
            city = "New " + city
        note = "" if rng.random() < EMPTY_NOTE_SHARE else \
            " ".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 4)))
        orders.append([f"o{i:07d}", cust, f"{rng.randrange(1, 100000) / 100:.2f}",
                       note, city, str(rng.randrange(10**9))])
    return customers, orders


ORDER_COLS = ["order_id", "cust", "amount", "note", "city", "ts"]


def expected_rml(customers: list[dict], orders: list[list[str]]) -> tuple[list, list]:
    """The mapping's output as (N-Triples lines, quad lines), in plain Python.

    Semantics (the reference's, which the engine mirrors):
    - first-occurrence dedup: each map emits once per DISTINCT tuple of the
      fields it references; unreferenced columns do not count;
    - space-discard: a minted IRI containing a space drops the term, and a
      subject IRI containing a space drops the whole row;
    - an empty reference value drops that one term;
    - the referencing object map joins each child row to the FIRST parent
      row (file order) with an equal key, and emits nothing without one;
    - literals are always typed (xsd:string by default);
    - the N-Triples writer prints rdf:type as ``a``; the quad table keeps
      the IRI and adds the graph."""
    ex = lambda local: f"<{NS}{local}>"  # noqa: E731
    lit = lambda v, dt: f'"{v}"^^<{XSD}{dt}>'  # noqa: E731
    triples: list[tuple[str, str, str, str]] = []

    first_parent: dict[str, str] = {}
    for c in customers:
        first_parent.setdefault(c["cid"], c["handle"])

    seen: set = set()
    for o in orders:
        key = (o[0], o[2], o[3], o[4], o[1])  # order_id, amount, note, city, cust
        if key in seen:
            continue
        seen.add(key)
        order_id, amount, note, city, cust = key
        s = ex(f"order/{order_id}")
        g = ORDERS_GRAPH
        triples.append((s, RDF_TYPE, ex("Order"), g))
        if amount:
            triples.append((s, ex("amount"), lit(amount, "decimal"), g))
        if note:
            triples.append((s, ex("note"), lit(note, "string"), g))
        if " " not in city:
            triples.append((s, ex("city"), ex(f"city/{city}"), g))
        handle = first_parent.get(cust)
        if handle is not None and " " not in handle:
            triples.append((s, ex("customer"), ex(f"customer/{handle}"), g))

    seen = set()
    for c in customers:
        name = c.get("profile", {}).get("name", "")
        key = (c["handle"], name, c["since"])
        if key in seen:
            continue
        seen.add(key)
        if " " in c["handle"]:
            continue
        s = ex(f"customer/{c['handle']}")
        g = CUSTOMERS_GRAPH
        triples.append((s, RDF_TYPE, ex("Customer"), g))
        if name:
            triples.append((s, ex("name"), lit(name, "string"), g))
        if c["since"]:
            triples.append((s, ex("since"), lit(c["since"], "date"), g))

    nt = [f"{s} {'a' if p == RDF_TYPE else p} {o} ." for s, p, o, _g in triples]
    quads = [f"{s} {p} {o} {g}" for s, p, o, g in triples]
    return nt, quads


def make_rml(seed: int, out_dir: str, spec: RmlSpec = RmlSpec()) -> str:
    """Write the sources (``orders/part-*.csv``, ``customers.json``) and the
    mapping (``mapping.ttl``) under out_dir; return their md5 digest."""
    customers, orders = rml_rows(seed, spec)
    os.makedirs(os.path.join(out_dir, "orders"), exist_ok=True)
    digest = hashlib.md5()
    step = math.ceil(len(orders) / spec.n_files)
    for k in range(spec.n_files):
        body = ",".join(ORDER_COLS) + "\n" + "".join(
            ",".join(r) + "\n" for r in orders[k * step:(k + 1) * step])
        digest.update(body.encode())
        with open(os.path.join(out_dir, "orders", f"part-{k:03d}.csv"), "w",
                  encoding="utf-8") as f:
            f.write(body)
    doc = json.dumps({"items": customers})
    digest.update(doc.encode())
    with open(os.path.join(out_dir, "customers.json"), "w", encoding="utf-8") as f:
        f.write(doc)
    with open(os.path.join(out_dir, "mapping.ttl"), "w", encoding="utf-8") as f:
        f.write(MAPPING)
    return digest.hexdigest()


def rml_expectation(seed: int, spec: RmlSpec = RmlSpec()) -> RmlExpectation:
    """Triple count and checksums the mapping must produce for this seed."""
    customers, orders = rml_rows(seed, spec)
    nt, quads = expected_rml(customers, orders)
    n_distinct_orders = len({(o[0], o[2], o[3], o[4], o[1]) for o in orders})
    shares = {
        "order_rows": len(orders),
        "customer_records": len(customers),
        "dup_row_share": round(1 - n_distinct_orders / len(orders), 4),
        "city_space_share": round(sum(" " in o[4] for o in orders) / len(orders), 4),
        "dangling_cust_share": round(sum(o[1].startswith("x") for o in orders)
                                     / len(orders), 4),
    }
    return RmlExpectation(len(nt), sum(map(line_hash, nt)),
                          sum(map(line_hash, quads)), shares)
