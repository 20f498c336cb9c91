"""The benchmark's own tests: seeded inputs, the tail statistic and the
comparison's refusal of unlike configurations. Spark is not started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import pytest

import compare
import gen
from metrics import tail


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            path = os.path.join(d, n)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = gen.generate(str(tmp_path / "a"), seed=7, scale=0.05, rounds=1)
    b = gen.generate(str(tmp_path / "b"), seed=7, scale=0.05, rounds=1)
    assert a == b
    fa, fb = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert fa.keys() == fb.keys() and len(fa) > 10
    assert all(fa[k] == fb[k] for k in fa)


def test_two_seeds_give_different_inputs(tmp_path):
    a = gen.generate(str(tmp_path / "a"), seed=7, scale=0.05, rounds=1)
    b = gen.generate(str(tmp_path / "b"), seed=8, scale=0.05, rounds=1)
    assert a != b
    fa, fb = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert fa.keys() == fb.keys()
    differing = [k for k in fa if fa[k] != fb[k]]
    # region and nation are fixed dimension tables; everything else moves
    assert set(fa) - set(differing) <= {"region.parquet", "nation.parquet"}


def test_tail_has_ten_samples_beyond_it():
    xs = list(range(1, 41))
    value, pct, n = tail(xs)
    assert (value, pct, n) == (30, 75.0, 40)
    assert sum(x > value for x in xs) == 10
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def _record(cpus=4, fingerprint="f1", value=1.0):
    return {
        "stamps": {
            "workload": "analytics",
            "cpus": cpus,
            "scale": 0.25,
            "trace": 0,
            "input_fingerprint": fingerprint,
        },
        "metrics": {"pass_s": {"value": value, "unit": "s"}},
    }


@pytest.mark.parametrize(
    "new, reason",
    [(_record(cpus=8), "cpus"), (_record(fingerprint="f2"), "input fingerprints")],
)
def test_compare_refuses_unlike_configurations(new, reason):
    refused = compare.refusals([_record()], [new])
    assert len(refused) == 1 and refused[0].startswith(reason)


def test_compare_flags_a_regression_beyond_its_bound():
    bench = {"end_to_end": [{"name": "pass_s", "better": "lower", "bound": 0.1}]}
    assert compare.refusals([_record()], [_record(value=1.2)]) == []
    [(name, b, n, worse, beyond)] = compare.changes([_record()], [_record(value=1.2)], bench)
    assert name == "pass_s" and beyond and worse == pytest.approx(0.2)
    [row] = compare.changes([_record()], [_record(value=1.05)], bench)
    assert not row[4]
