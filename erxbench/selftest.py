"""Self-tests of the benchmark itself.

    python3 -m pytest erxbench/selftest.py -q

The file name keeps it out of a plain ``pytest`` collection from the
repository root.

The generator tests are pure Python and take a few seconds.  The
repeatability tests run the benchmark command (a Spark session each) and
take several minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402


def _corpus_sum(c: dict) -> str:
    return gen.checksum(c["doc_id"], c["text"])


def test_same_seed_same_inputs():
    a, b = gen.corpus(7, 600), gen.corpus(7, 600)
    assert _corpus_sum(a) == _corpus_sum(b)
    assert a["near_pairs"] == b["near_pairs"]
    assert a["families"] == b["families"]
    assert gen.er_pages_checksum(7, 500) == gen.er_pages_checksum(7, 500)


def test_other_seed_other_inputs_same_size():
    a, b = gen.corpus(7, 600), gen.corpus(8, 600)
    assert len(a["text"]) == len(b["text"]) == 600
    assert len(a["near_pairs"]) == len(b["near_pairs"])
    assert _corpus_sum(a) != _corpus_sum(b)
    ia, ib = gen.er_page_indices(7, 500), gen.er_page_indices(8, 500)
    assert len(ia) == len(ib) == 500
    assert gen.er_pages_checksum(7, 500) != gen.er_pages_checksum(8, 500)


def test_planted_pairs_are_near_duplicates():
    c = gen.corpus(3, 600)
    text = dict(zip(c["doc_id"], c["text"]))
    assert sorted(c["doc_id"]) == list(range(1, 601))
    for a, b, j in c["near_pairs"]:
        assert text[a] != text[b]
        assert j == gen.jaccard(text[a], text[b]) >= gen.NEAR_MIN_JACCARD
    for fam in c["families"]:
        assert len({text[d] for d in fam}) == 1


def _bench(workload: str, seed: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "erxbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", "0"],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


@pytest.mark.parametrize("workload", ["er_linkage", "corpus_dedup"])
def test_quality_repeats_exactly(workload):
    """pairwise_f1 (er_linkage) and planted_pair_recall (corpus_dedup) are
    the same number on every run of one seed."""
    values = []
    for _ in range(2):
        p = _bench(workload, 5)
        assert p.returncode == 0, p.stderr[-3000:]
        result = json.loads(p.stdout.strip().splitlines()[-1])
        assert result["correct"], p.stderr[-3000:]
        values.append(result["metrics"]["quality"]["value"])
    assert values[0] == values[1]


def test_curation_funnel_repeats_exactly():
    """The two-snapshot funnel (doc count, token sum, id checksum per
    stage) is identical on every run of one seed."""
    sums = []
    for _ in range(2):
        p = _bench("snapshot_curate", 5)
        assert p.returncode == 0, p.stderr[-3000:]
        assert json.loads(p.stdout.strip().splitlines()[-1])["correct"]
        line = next(x for x in p.stdout.splitlines() if "funnel_md5=" in x)
        sums.append(line.split("funnel_md5=")[1].split()[0])
    assert sums[0] == sums[1]


def _jvm_and_python_processes() -> set[int]:
    """Java and Python processes on the host other than this one, zombies
    included (a zombie has no command line left, only its name)."""
    found = set()
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                name = f.read().split("(", 1)[1].rsplit(")", 1)[0]
        except (OSError, IndexError):
            continue
        if name == "java" or name.startswith("python"):
            found.add(int(d))
    return found


def test_leaves_no_process_running():
    """When the command has exited, the JVM and every Python worker it
    started have ended and been waited for."""
    before = _jvm_and_python_processes()
    p = _bench("corpus_dedup", 1)
    left = _jvm_and_python_processes() - before
    assert p.returncode == 0, p.stderr[-3000:]
    assert left == set()


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command fails fast
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "erxbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench("corpus_dedup", 1, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
