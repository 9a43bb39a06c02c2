"""Seed determinism of the generated inputs."""

import os

import pytest

from perfbench import gen

SMALL_LOAD = gen.LoadShape(states=1, counties_per_state=2, hours=48)


def _write(kind: str, seed: int, out: str) -> None:
    if kind == "load":
        gen.write_load_tables(seed, SMALL_LOAD, out)
    elif kind == "tpch":
        gen.write_tpch_tables(seed, out)
    else:
        shape = gen.VectorShape(base_rows=64, batch_rows=16)
        for i in range(3):
            ids, vecs = gen.vector_batch(seed, shape, i)
            gen.write_parquet(gen.vector_table(ids, vecs),
                              os.path.join(out, f"b{i}.parquet"))


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("kind", ["load", "tpch", "vectors"])
def test_same_seed_gives_byte_identical_inputs(tmp_path, kind):
    _write(kind, 7, str(tmp_path / "a"))
    _write(kind, 7, str(tmp_path / "b"))
    a, b = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert a and a == b


@pytest.mark.parametrize("kind", ["load", "tpch", "vectors"])
def test_other_seed_gives_other_inputs(tmp_path, kind):
    _write(kind, 7, str(tmp_path / "a"))
    _write(kind, 8, str(tmp_path / "b"))
    a, b = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert a.keys() == b.keys()
    # fixed dimension tables (region, nation, subsector map) may repeat
    assert sum(a[k] != b[k] for k in a) >= len(a) // 2


def test_load_shape_row_counts():
    tables = gen.load_tables(3, SMALL_LOAD)
    assert tables["load"].num_rows == SMALL_LOAD.load_rows
    assert tables["ev"].num_rows == SMALL_LOAD.state_rows
    weights = tables["state_to_county"].column("from_fraction").to_pylist()
    assert sum(weights) == pytest.approx(SMALL_LOAD.states)
