"""Seeded input generator and expected-output model for the KG benchmark.

This module never imports `csvweb_spark`: it writes the input files the
program receives (pages and alias parquet, CSVW metadata sidecars) and
computes, from its own model of the CSVW and pipeline semantics, what the
program must output for them. The checker in `run.py` compares the
program's committed files against these expectations.

Two inputs, both determined by the seed:

* kg docs - documents rendered as CSV pages of `DOCS_PER_PAGE` rows with
  columns (doc_id, lang, source, n_chars, text). `source` names one of
  `N_HUBS` hub entities drawn from a Zipf distribution, written in one of
  its two alias forms ("<name>" / "the <name> archive") with varied case
  and punctuation; a few sources name no entity. The alias dictionary
  (alias, entity_id, entity_uri) is written next to the pages, and a
  small separate set of pages, split over `BATCH_FILES` files, serves as
  the streamed micro-batches (one file each).
* typed pages - heterogeneous CSV pages described by a few distinct CSVW
  descriptors (formatted date/dateTime/decimal/boolean columns, valueUrl
  templates, separators, null/default, lang, a virtual column) with
  seeded invalid cells, plus a (meta_url, metadata_json) sidecar table.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import io
import json
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

DOCS_PER_PAGE = 10
N_HUBS = 200
BATCH_FILES = 4
# Traffic parameters. None is measured from data in this repository (its
# test data has equally sized sources), so all are assumptions:
# - ZIPF_S, the rank exponent of hub popularity, follows a published web
#   measurement by analogy: in-links to web pages follow a power law with
#   exponent about 2.1 (Broder et al., "Graph structure in the Web",
#   WWW 2000), which is a Zipf rank exponent of 1 / (2.1 - 1), about 0.9.
#   That documents cite hub sources the way pages link to pages is itself
#   unverified.
# - UNLINKED_SHARE (sources that name no entity), BLANK_LANG_SHARE and the
#   typed pages' INVALID_SHARE are unverified: they are set so the unlinked,
#   empty-cell and invalid-cell paths run on every page batch.
ZIPF_S = 0.9
UNLINKED_SHARE = 0.05
BLANK_LANG_SHARE = 0.02
DOC_URI = "http://pages.example.org/doc/{doc_id}"
PAGE_URL = "http://pages.example.org/docs/{page}.csv"
KB_URI = "http://kb.example.org/src/"
DOC_COLUMNS = ("doc_id", "lang", "source", "n_chars", "text")
LANGS = ("en", "en", "en", "de", "fr", "es", "it", "nl")
TS = dt.datetime(2026, 1, 1)

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])

_VOCAB = (
    "river stone market signal garden winter copper harbor lantern meadow "
    "engine silver thunder orchard canvas paper rocket valley marble field "
    "window ladder beacon forest island pepper candle mirror anchor bridge "
    "circuit velvet shadow planet harvest summit falcon compass timber "
    "crystal ember glacier hollow jasmine kettle lumber nectar oyster "
    "prairie quartz saddle tundra umbra vessel willow yarrow zephyr").split()
_SYLLABLES = ("ka", "lo", "mi", "ra", "te", "vu", "zo", "pe", "ni", "sa",
              "do", "gu", "be", "fi", "ho", "ju", "qua", "xe", "wy", "cre")


# --------------------------------------------------------------------------
# Shared helpers: N-Triples rendering, digests, CSV, parquet
# --------------------------------------------------------------------------

def _esc(s: str) -> str:
    return (s.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")
            .replace("\r", "\\r").replace("\t", "\\t"))


def _term(s: str) -> str:
    return s if s.startswith("_:") else f"<{s}>"


def nt_line(subj, pred, obj, kind, dtype, lang) -> str:
    """Canonical N-Triples line: xsd:string literals are plain, language
    tags win over datatypes (the serializer's documented conventions)."""
    if kind == "literal":
        o = f'"{_esc(obj)}"'
        if lang is not None:
            o += f"@{lang}"
        elif dtype is not None and dtype != XSD_STRING:
            o += f"^^<{dtype}>"
    else:
        o = _term(obj)
    return f"{_term(subj)} {_term(pred)} {o} ."


def digest(lines) -> str:
    """Order-independent digest of a multiset of lines."""
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def _render_csv(header, rows) -> str:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue()


def _write_pages(path: str, pages: list) -> None:
    n = len(pages)
    pq.write_table(pa.table({
        "url": [p[0] for p in pages], "warc_ts": [TS] * n,
        "html": pa.nulls(n, pa.binary()), "text": [p[1] for p in pages],
        "lang": ["en"] * n}, schema=PAGES_SCHEMA), path)


def _chunks(items: list, n: int) -> list:
    per = -(-len(items) // n)
    return [items[i:i + per] for i in range(0, len(items), per)]


def _write_split(dir_path: str, pages: list, n_files: int) -> None:
    os.makedirs(dir_path, exist_ok=True)
    for i, chunk in enumerate(_chunks(pages, n_files)):
        _write_pages(os.path.join(dir_path, f"part-{i:05d}.parquet"), chunk)


# --------------------------------------------------------------------------
# KG documents (kg_build, kg_stream)
# --------------------------------------------------------------------------

def normalize_surface(s: str) -> str:
    """The linking rule: lower-case, non [a-z0-9 ] to space, collapse
    whitespace, trim."""
    return re.sub(r"\s+", " ", re.sub(r"[^a-z0-9 ]", " ", s.lower())).strip()


def _hub_names(rng: random.Random, n: int) -> list:
    reserved = set(_VOCAB) | set(LANGS) | {"the", "archive", "indie"}
    names: list = []
    seen: set = set()
    while len(names) < n:
        name = "".join(rng.choice(_SYLLABLES)
                       for _ in range(rng.randint(3, 4)))
        if name not in seen and name not in reserved:
            seen.add(name)
            names.append(name)
    return names


def _surface_form(rng: random.Random, name: str) -> str:
    archive = rng.random() < 0.4
    base = f"the {name} archive" if archive else name
    style = rng.randrange(4)
    if style == 1:
        base = base.title()
    elif style == 2:
        base = base.upper()
    elif style == 3:
        base = base.replace(" ", "-") + "."
    return base


def _doc_text(rng: random.Random) -> str:
    words = [rng.choice(_VOCAB) for _ in range(rng.randint(6, 18))]
    r = rng.random()
    if r < 0.15:
        words[rng.randrange(len(words))] += ","
    elif r < 0.22:
        i = rng.randrange(len(words))
        words[i] = f'"{words[i]}"'
    elif r < 0.25:
        words.insert(rng.randrange(1, len(words)), "\n")
    return " ".join(words).replace(" \n ", "\n")


def _zipf_counts(n: int) -> list:
    """n split over the N_HUBS ranks in proportion to 1 / rank ** ZIPF_S,
    by largest remainder."""
    w = [1.0 / (k + 1) ** ZIPF_S for k in range(N_HUBS)]
    quota = [n * x / sum(w) for x in w]
    counts = [int(q) for q in quota]
    by_rest = sorted(range(N_HUBS), key=lambda k: counts[k] - quota[k])
    for k in by_rest[:n - sum(counts)]:
        counts[k] += 1
    return counts


def make_kg_docs(seed: int, n_docs: int) -> dict:
    """Documents, hub entities and aliases for one seed (pure data). How
    many documents each hub rank and the unlinked share get is fixed by
    the size alone, so every seed has the same skew (and the same
    connected-component shape); the seed picks names, order and content."""
    rng = random.Random(seed)
    names = _hub_names(rng, N_HUBS)
    n_unlinked = round(n_docs * UNLINKED_SHARE)
    hubs = [None] * n_unlinked + [
        k for k, c in enumerate(_zipf_counts(n_docs - n_unlinked))
        for _ in range(c)]
    rng.shuffle(hubs)
    docs = []
    for doc_id in range(n_docs):
        if hubs[doc_id] is None:
            source = f"indie {rng.choice(_VOCAB)} {doc_id}"
        else:
            source = _surface_form(rng, names[hubs[doc_id]])
        text = _doc_text(rng)
        lang = "" if rng.random() < BLANK_LANG_SHARE else rng.choice(LANGS)
        docs.append((doc_id, lang, source, len(text), text))
    aliases = []
    for k, name in enumerate(names):
        uri = KB_URI + name
        aliases.append((name, k, uri))
        aliases.append((f"the {name} archive", k, uri + "#archive"))
    return {"docs": docs, "aliases": aliases}


def kg_pages(docs: list) -> list:
    """[(page_url, csv_text, [doc rows])] with DOCS_PER_PAGE rows a page."""
    pages = []
    for p in range(0, len(docs), DOCS_PER_PAGE):
        chunk = docs[p:p + DOCS_PER_PAGE]
        pages.append((PAGE_URL.format(page=p // DOCS_PER_PAGE),
                      _render_csv(DOC_COLUMNS, chunk), chunk))
    return pages


def _find(parent: dict, x: str) -> str:
    while parent[x] != x:
        parent[x] = parent[parent[x]]
        x = parent[x]
    return x


def kg_graph(pages: list, aliases: list) -> tuple:
    """Stages A-D over `pages` as ONE build: (canonical triples as
    (subj, pred, obj, kind, datatype, lang) tuples, {uri: canonical uri}
    for every entity-map node)."""
    alias_uri = {normalize_surface(a): uri for a, _k, uri in aliases}
    triples = []
    edges = []
    for url, _text, rows in pages:
        for row in rows:
            subj = DOC_URI.format(doc_id=row[0])
            for col, v in zip(DOC_COLUMNS, row):
                if v == "":
                    continue
                is_int = col in ("doc_id", "n_chars")
                obj = str(v)
                triples.append((subj, f"{url}#{col}", obj, "literal",
                                XSD_INTEGER if is_int else XSD_STRING, None))
                hit = alias_uri.get(normalize_surface(obj))
                if hit is not None:
                    edges.append((subj, hit))
    by_entity: dict = {}
    for _a, k, uri in aliases:
        by_entity.setdefault(k, []).append(uri)
    for uris in by_entity.values():
        root = min(uris)
        edges.extend((u, root) for u in uris if u != root)
    parent: dict = {}
    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = _find(parent, a), _find(parent, b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict = {}
    for u in parent:
        members.setdefault(_find(parent, u), []).append(u)
    canon = {u: min(ms) for ms in members.values() for u in ms}
    return ([(canon.get(s, s), p, canon.get(o, o) if k == "iri" else o,
              k, d, lg) for s, p, o, k, d, lg in triples], canon)


def expected_kg(pages: list, aliases: list) -> dict:
    """Expected committed output of stages A-E over `pages` as one build:
    digests of the canonical triples and of the entity map (uri ->
    canonical uri), and the cell-error count."""
    triples, canon = kg_graph(pages, aliases)
    lines = [nt_line(*t) for t in triples]
    ent = [f"{u} {c}" for u, c in canon.items()]
    return {"rows": sum(len(r) for _u, _t, r in pages),
            "triples": len(lines), "triples_digest": digest(lines),
            "entities": len(ent), "entities_digest": digest(ent),
            "cell_errors": 0}


def write_kg_build(out_dir: str, seed: int, n_docs: int, batch_docs: int,
                   n_files: int = 8) -> dict:
    """`n_docs` documents in `pages/` and a separate `batch_docs` set in
    `batch/`, split over `BATCH_FILES` files (one streamed micro-batch
    each). Expected outputs: the pages as one build, and each batch file
    as one build ("batch_files", in file order)."""
    data = make_kg_docs(seed, batch_docs + n_docs)
    pages = kg_pages(data["docs"])
    n_batch = batch_docs // DOCS_PER_PAGE
    _write_split(os.path.join(out_dir, "batch"),
                 [p[:2] for p in pages[:n_batch]], BATCH_FILES)
    _write_split(os.path.join(out_dir, "pages"),
                 [p[:2] for p in pages[n_batch:]], n_files)
    _write_aliases(os.path.join(out_dir, "aliases.parquet"), data["aliases"])
    aliases = data["aliases"]
    return {"batch_files": [expected_kg(c, aliases)
                            for c in _chunks(pages[:n_batch], BATCH_FILES)],
            **expected_kg(pages[n_batch:], aliases)}


def _write_aliases(path: str, aliases: list) -> None:
    pq.write_table(pa.table({
        "alias": [a[0] for a in aliases],
        "entity_id": pa.array([a[1] for a in aliases], pa.int64()),
        "entity_uri": [a[2] for a in aliases]}), path)


# --------------------------------------------------------------------------
# Typed CSVW pages (csvw_typed)
# --------------------------------------------------------------------------

TYPED_BASE = "http://data.example.org/typed/"
_BOOL_FORMATS = {None: ("true", "false"), "Y|N": ("Y", "N"),
                 "yes|no": ("yes", "no")}


def _fmt_date(d: dt.date, pattern: str) -> str:
    return (pattern.replace("yyyy", f"{d.year:04d}")
            .replace("MM", f"{d.month:02d}").replace("dd", f"{d.day:02d}"))


def _fmt_datetime(t: dt.datetime, pattern: str) -> str:
    return _fmt_date(t, pattern).replace("HH", f"{t.hour:02d}") \
        .replace("mm", f"{t.minute:02d}")


def _fmt_grouped(cents: int) -> str:
    whole, frac = divmod(abs(cents), 100)
    s = f"{whole:,}.{frac:02d}"
    return "-" + s if cents < 0 else s


# Column kinds: each maps a seeded value to (csv cell, expected triples).
# Descriptor specs: (name, aboutUrl template, [column specs]).
DESCRIPTORS = [
    ("orders", "http://shop.example.org/order/{id}", [
        {"name": "id", "kind": "id"},
        {"name": "placed", "kind": "date", "format": "dd.MM.yyyy"},
        {"name": "amount", "kind": "decimal"},
        {"name": "paid", "kind": "boolean", "format": "Y|N"},
        {"name": "customer", "kind": "ref",
         "propertyUrl": "http://schema.org/customer",
         "valueUrl": "http://shop.example.org/customer/{customer}"},
        {"name": "tags", "kind": "list", "separator": ";"},
        {"name": "note", "kind": "text", "lang": "de", "null": "-"},
        {"name": "qty", "kind": "int", "default": "1"},
        {"name": "type", "kind": "virtual",
         "valueUrl": "http://schema.org/Order"},
    ]),
    ("readings", "http://sensor.example.org/reading/{id}", [
        {"name": "id", "kind": "id"},
        {"name": "at", "kind": "datetime", "format": "dd/MM/yyyy HH:mm"},
        {"name": "temp", "kind": "double", "null": "NA"},
        {"name": "ok", "kind": "boolean"},
        {"name": "station", "kind": "ref",
         "propertyUrl": "http://sensor.example.org/ns#station",
         "valueUrl": "http://sensor.example.org/station/{station}"},
        {"name": "label", "kind": "text", "lang": "en",
         "default": "unlabelled"},
    ]),
    ("people", "http://people.example.org/person/{id}", [
        {"name": "id", "kind": "id"},
        {"name": "name", "kind": "text", "lang": "en"},
        {"name": "born", "kind": "date", "format": "yyyy-MM-dd"},
        {"name": "member", "kind": "boolean", "format": "yes|no"},
        {"name": "langs", "kind": "list", "separator": "|"},
        {"name": "score", "kind": "int"},
        {"name": "type", "kind": "virtual",
         "valueUrl": "http://schema.org/Person"},
    ]),
]

_DATATYPES = {"id": "integer", "int": "integer", "date": "date",
              "datetime": "dateTime", "decimal": "decimal",
              "double": "double", "boolean": "boolean"}
INVALID_SHARE = 0.02  # unverified assumption; see the traffic note at the top


def _column_json(c: dict) -> dict:
    out = {"name": c["name"]}
    if c["kind"] == "virtual":
        out.update(virtual=True, propertyUrl="rdf:type",
                   valueUrl=c["valueUrl"])
        return out
    out["titles"] = c["name"]
    base = _DATATYPES.get(c["kind"])
    if c["kind"] == "decimal":
        out["datatype"] = {"base": "decimal", "format": {
            "pattern": "#,##0.00", "groupChar": ",", "decimalChar": "."}}
    elif base and c.get("format"):
        out["datatype"] = {"base": base, "format": c["format"]}
    elif base:
        out["datatype"] = base
    for key in ("propertyUrl", "valueUrl", "separator", "lang", "null",
                "default"):
        if key in c:
            out[key] = c[key]
    return out


def descriptor_json(d_ix: int, table_url: str) -> str:
    _name, about, cols = DESCRIPTORS[d_ix]
    return json.dumps({
        "@context": "http://www.w3.org/ns/csvw", "url": table_url,
        "tableSchema": {"aboutUrl": about,
                        "columns": [_column_json(c) for c in cols]}},
        sort_keys=True)


def _typed_cell(rng: random.Random, c: dict, row_id: int):
    """(csv cell, [(obj, kind, dtype, lang)], is_invalid)."""
    kind = c["kind"]
    invalid = (kind in ("date", "datetime", "decimal", "double", "boolean",
                        "int") and rng.random() < INVALID_SHARE)
    if invalid:
        bad = rng.choice(["n/a", "unknown", "??", "tbd"])
        return bad, [(bad, "literal", XSD_STRING, None)], True
    if kind == "id":
        v = str(row_id)
        return v, [(v, "literal", XSD_INTEGER, None)], False
    if kind == "int":
        if "default" in c and rng.random() < 0.1:
            return "", [(c["default"], "literal", XSD_INTEGER, None)], False
        v = rng.randint(-50, 5000)
        return str(v), [(str(v), "literal", XSD_INTEGER, None)], False
    if kind == "date":
        d = dt.date(1950, 1, 1) + dt.timedelta(days=rng.randrange(27000))
        return (_fmt_date(d, c["format"]),
                [(d.isoformat(), "literal", XSD + "date", None)], False)
    if kind == "datetime":
        t = dt.datetime(2020, 1, 1) + dt.timedelta(
            minutes=rng.randrange(10 ** 6))
        return (_fmt_datetime(t, c["format"]),
                [(t.strftime("%Y-%m-%dT%H:%M:%S"), "literal",
                  XSD + "dateTime", None)], False)
    if kind == "decimal":
        cents = rng.randint(-10 ** 6, 10 ** 8)
        s = _fmt_grouped(cents)
        return (s, [(s.replace(",", ""), "literal", XSD + "decimal", None)],
                False)
    if kind == "double":
        if rng.random() < 0.1:
            return c["null"], [], False
        s = f"{rng.uniform(-40, 45):.1f}"
        return s, [(s, "literal", XSD + "double", None)], False
    if kind == "boolean":
        b = rng.random() < 0.5
        t, f = _BOOL_FORMATS[c.get("format")]
        return (t if b else f,
                [("true" if b else "false", "literal", XSD + "boolean", None)],
                False)
    if kind == "ref":
        v = f"{c['name'][0]}{rng.randrange(5000)}"
        return v, [(c["valueUrl"].replace("{%s}" % c["name"], v), "iri",
                     None, None)], False
    if kind == "list":
        items = [rng.choice(_VOCAB) for _ in range(rng.randint(0, 3))]
        return (c["separator"].join(items),
                [(i, "literal", XSD_STRING, None) for i in items], False)
    # text
    if "null" in c and rng.random() < 0.1:
        return c["null"], [], False
    if "default" in c and rng.random() < 0.1:
        return "", [(c["default"], "literal", None, c["lang"])], False
    v = " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(1, 4)))
    if rng.random() < 0.1:
        v = f'{v} "{rng.choice(_VOCAB)}", \\{rng.choice(_VOCAB)}'
    return v, [(v, "literal", None, c["lang"])], False


def write_csvw_typed(out_dir: str, seed: int, n_pages: int,
                     rows_per_page: int, n_files: int = 8) -> dict:
    """Typed pages in `pages/` and their sidecar table. Most pages carry
    their own '<page>-metadata.json'; every 10th page relies on its
    directory's 'csv-metadata.json' (the second discovery key), whose
    table url is 'index.csv' in that directory."""
    rng = random.Random(seed)
    meta = [(f"{TYPED_BASE}{dname}/csv-metadata.json",
             descriptor_json(d_ix, "index.csv"))
            for d_ix, (dname, _a, _c) in enumerate(DESCRIPTORS)]
    typed_preds: set = set()
    pages, want = typed_pages(rng, range(n_pages), rows_per_page,
                              iter(range(1, 1 + n_pages * rows_per_page)),
                              meta, typed_preds)
    _write_split(os.path.join(out_dir, "pages"), pages, n_files)
    pq.write_table(pa.table({"meta_url": [m[0] for m in meta],
                             "metadata_json": [m[1] for m in meta]}),
                   os.path.join(out_dir, "meta.parquet"))
    return {**want, "sidecars": len(meta), "typed_preds": sorted(typed_preds)}


def typed_pages(rng, page_numbers, rows_per_page, row_ids, meta,
                typed_preds, lines=None):
    """Render typed pages; appends their sidecars to `meta`, their typed
    predicates to `typed_preds` and, when `lines` is given (an empty
    list), their expected N-Triples lines to it."""
    lines = [] if lines is None else lines
    pages = []
    n_invalid = n_rows = 0
    for p in page_numbers:
        d_ix = p % len(DESCRIPTORS)  # the same mix for every seed
        dname, about, cols = DESCRIPTORS[d_ix]
        url = f"{TYPED_BASE}{dname}/page-{p}.csv"
        if p % 10 == 9:
            table_url = f"{TYPED_BASE}{dname}/index.csv"
        else:
            table_url = url
            meta.append((url + "-metadata.json",
                         descriptor_json(d_ix, f"page-{p}.csv")))
        real = [c for c in cols if c["kind"] != "virtual"]
        rows = []
        for _ in range(rows_per_page):
            row_id = next(row_ids)
            n_rows += 1
            subj = about.replace("{id}", str(row_id))
            cells = []
            for c in cols:
                if c["kind"] == "virtual":
                    lines.append(nt_line(subj, RDF_TYPE, c["valueUrl"], "iri",
                                         None, None))
                    continue
                cell, objs, bad = _typed_cell(rng, c, row_id)
                cells.append(cell)
                n_invalid += bad
                pred = c.get("propertyUrl", f"{table_url}#{c['name']}")
                if c["kind"] in _DATATYPES and c["kind"] != "id":
                    typed_preds.add(pred)
                lines.extend(nt_line(subj, pred, *o) for o in objs)
            rows.append(cells)
        pages.append((url, _render_csv([c["name"] for c in real], rows)))
    return pages, {"rows": n_rows, "pages": len(pages), "triples": len(lines),
                   "triples_digest": digest(lines), "cell_errors": n_invalid}


def count_invalid_cells(lines, typed_preds) -> int:
    """Invalid cells surface as plain literals under a typed predicate."""
    preds = {f"<{p}>" for p in typed_preds}
    n = 0
    for line in lines:
        _s, p, o = line.split(" ", 2)
        if p in preds and o.startswith('"') and o.endswith('" .'):
            n += 1
    return n
