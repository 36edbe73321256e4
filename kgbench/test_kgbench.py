"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest kgbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for fn in sorted(files):
            path = os.path.join(d, fn)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("write", [
    lambda d, seed: gen.write_kg_build(d, seed, 300, 50),
    lambda d, seed: gen.write_csvw_typed(d, seed, 30, 5),
])
def test_generator_is_deterministic_per_seed(tmp_path, write):
    a, b, c = (str(tmp_path / n) for n in "abc")
    want_a, want_b, want_c = write(a, 7), write(b, 7), write(c, 8)
    assert want_a == want_b
    assert _tree_digest(a) == _tree_digest(b)
    assert want_a["triples_digest"] != want_c["triples_digest"]
    assert _tree_digest(a) != _tree_digest(c)


def test_hub_skew_is_the_same_for_every_seed():
    def per_rank(seed):
        data = gen.make_kg_docs(seed, 2000)
        uris = [a[2] for a in data["aliases"] if "#" not in a[2]]
        by_name = {gen.normalize_surface(a): u.split("#")[0]
                   for a, _k, u in data["aliases"]}
        n = {u: 0 for u in uris}
        for d in data["docs"]:
            u = by_name.get(gen.normalize_surface(d[2]))
            if u is not None:
                n[u] += 1
        return sorted(n.values(), reverse=True)

    counts = per_rank(1)
    assert counts == per_rank(2)
    assert sum(counts) == 2000 - round(2000 * gen.UNLINKED_SHARE)
    assert counts == gen._zipf_counts(sum(counts))


def _kg_fixture(seed: int = 3):
    data = gen.make_kg_docs(seed, 200)
    pages = gen.kg_pages(data["docs"])
    triples, canon = gen.kg_graph(pages, data["aliases"])
    return pages, data["aliases"], triples, canon


def _commit(table_dir: str, columns: dict) -> None:
    """A committed table in the lineage layout the checker reads."""
    data = os.path.join(table_dir, "data", "part_key=0")
    os.makedirs(data)
    pq.write_table(pa.table(columns), os.path.join(data, "part-0.parquet"))
    os.makedirs(os.path.join(table_dir, "_manifests"))
    n = len(next(iter(columns.values())))
    with open(os.path.join(table_dir, "_manifests", "run-1.json"), "w") as f:
        json.dump({"total_rows": n}, f)


def _write_kg(out: str, triples: list, canon: dict) -> None:
    cols = ["subj", "pred", "obj", "obj_kind", "obj_datatype", "obj_lang"]
    _commit(os.path.join(out, "triples"),
            {c: pa.array([t[i] for t in triples], pa.string())
             for i, c in enumerate(cols)})
    _commit(os.path.join(out, "entities"),
            {"uri": list(canon), "canonical_uri": list(canon.values())})


def test_kg_model_links_hubs_and_merges_alias_forms():
    pages, aliases, triples, canon = _kg_fixture()
    want = gen.expected_kg(pages, aliases)
    assert want["rows"] == 200
    assert len(triples) == want["triples"] and len(canon) == want["entities"]
    hub_subjects = {t[0] for t in triples if t[0].startswith(gen.KB_URI)}
    assert hub_subjects and all("#" not in s for s in hub_subjects)
    assert len(set(canon.values())) == gen.N_HUBS


def test_kg_check_accepts_the_expected_output(tmp_path):
    pages, aliases, triples, canon = _kg_fixture()
    _write_kg(str(tmp_path), triples, canon)
    run.check_kg(run.kg_output(str(tmp_path)), gen.expected_kg(pages, aliases))


@pytest.mark.parametrize("field", [0, 1, 2, 4])
def test_kg_check_rejects_one_mutated_triple(tmp_path, field):
    pages, aliases, triples, canon = _kg_fixture()
    i = random.Random(field).randrange(len(triples))
    t = list(triples[i])
    t[field] = t[field] + "x"
    triples[i] = tuple(t)
    _write_kg(str(tmp_path), triples, canon)
    with pytest.raises(run.Mismatch):
        run.check_kg(run.kg_output(str(tmp_path)),
                     gen.expected_kg(pages, aliases))


def test_kg_check_rejects_uncommitted_rows(tmp_path):
    pages, aliases, triples, canon = _kg_fixture()
    _write_kg(str(tmp_path), triples, canon)
    with open(os.path.join(tmp_path, "triples", "_manifests", "run-1.json"),
              "w") as f:
        json.dump({"total_rows": len(triples) - 1}, f)
    with pytest.raises(run.Mismatch):
        run.kg_output(str(tmp_path))


def _typed_fixture(tmp_path):
    rng = random.Random(5)
    lines, meta, preds = [], [], set()
    _pages, want = gen.typed_pages(rng, range(40), 6, iter(range(1, 10 ** 6)),
                                   meta, preds, lines)
    want["typed_preds"] = sorted(preds)
    out = tmp_path / "nt"
    out.mkdir()
    return lines, want, out


def test_nt_check_counts_invalid_cells_and_rejects_one_mutated_line(tmp_path):
    lines, want, out = _typed_fixture(tmp_path)
    assert want["cell_errors"] > 0
    (out / "part-00000.txt").write_text("\n".join(lines) + "\n")
    run.check_nt(run.nt_output(str(out), want), want)
    i = next(i for i, ln in enumerate(lines) if "^^<" in ln)
    lines[i] = lines[i].replace("^^<", "^^<x", 1)
    (out / "part-00000.txt").write_text("\n".join(lines) + "\n")
    with pytest.raises(run.Mismatch):
        run.check_nt(run.nt_output(str(out), want), want)


def test_every_printed_metric_is_named_in_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert bench["command"][1] == os.path.relpath(run.__file__, run.ROOT)
