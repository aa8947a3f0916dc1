"""bench.py's scaling-campaign bookkeeping, without Spark or a worker JVM."""

import json
import subprocess

import bench


def _ok(master: str, wall: float, h: str = "10:42") -> dict:
    return {"master": master, "wall_s": wall, "clusters_hash": h, "pairwise_f1": 1.0,
            "stage_walls_s": {"01_extract": wall / 4, "06_clusters": wall / 2}}


def test_levels_come_from_the_core_count():
    assert bench.levels(4) == (1, 4)
    assert bench.levels(32) == (8, 32)
    assert bench.levels(1) == (1, 4)


def test_failed_worker_is_counted_with_its_stderr_tail():
    failed = bench.result_of(subprocess.CompletedProcess(
        args=[], returncode=1, stdout="", stderr="x" * 5000 + "\njava.lang.OutOfMemoryError"))
    summary = bench.summarize(100, {
        1: [_ok("local[1]", 40.0), failed, _ok("local[1]", 44.0)],
        4: [_ok("local[4]", 12.0)] * 3,
    })
    assert summary["n1"]["failed_trials"] == 1
    assert summary["n1"]["errors"][0].endswith("java.lang.OutOfMemoryError")
    assert summary["n1"]["walls_s"] == [40.0, 44.0]
    assert summary["n4"]["failed_trials"] == 0
    assert summary["clusters_hash_equal"]
    assert summary["throughput_ratio"] == round(42.0 / 12.0, 3)
    assert summary["stage_speedup"]["06_clusters"] == 3.5


def test_worker_result_line_is_parsed():
    r = _ok("local[4]", 12.0)
    proc = subprocess.CompletedProcess(
        args=[], returncode=0, stdout="noise\nRESULT " + json.dumps(r) + "\n", stderr="")
    assert bench.result_of(proc) == r


def test_differing_clusters_hash_fails_the_campaign(tmp_path, monkeypatch):
    monkeypatch.setattr(bench.inputs, "write_corpus", lambda *a: {})
    hashes = iter(["10:42", "10:42", "10:43", "10:42"])
    monkeypatch.setattr(bench, "run_worker",
                        lambda n, corpus, work: _ok(f"local[{n}]", 10.0, next(hashes)))
    out = tmp_path / "out.json"
    assert bench.main([str(out), "100", "2", "50", "2"]) == 1
    summary = json.loads(out.read_text())
    assert not summary["clusters_hash_equal"]

    hashes = iter(["10:42"] * 4)
    assert bench.main([str(out), "100", "2", "50", "2"]) == 0
