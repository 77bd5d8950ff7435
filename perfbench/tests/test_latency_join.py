import json
import os

import ingest


def _write_source_log(branch_dir, name, entries, version="v1"):
    d = os.path.join(branch_dir, "sources", "0")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        f.write(version + "\n")
        for path, batch in entries:
            f.write(json.dumps({"path": f"file:///x/src/in_backlog000/{path}", "timestamp": 1,
                                "batchId": batch}) + "\n")


def _commit(branch_dir, batch, when):
    d = os.path.join(branch_dir, "commits")
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, str(batch))
    with open(p, "w") as f:
        f.write("v1\n{}\n")
    os.utime(p, (when, when))


def test_files_join_to_the_latest_branch_commit(tmp_path):
    ckpt = str(tmp_path)
    due = {"f0": 100.0, "f1": 100.25, "f2": 100.5, "f3": 100.75}
    for i, b in enumerate(ingest.BRANCHES):
        bdir = os.path.join(ckpt, b)
        # batch 0 = f0, f1; batch 1 = f2 (in a compacted log); batch 2 = f3
        _write_source_log(bdir, "1.compact", [("f0", 0), ("f1", 0), ("f2", 1)])
        _write_source_log(bdir, "2", [("f3", 2)])
        _commit(bdir, 0, 103.0 + i)  # the last branch commits batch 0 at 106
        _commit(bdir, 1, 104.0)
        if b != "sales_per_month":  # one branch never commits batch 2
            _commit(bdir, 2, 105.0)
    latency, failed = ingest.latency_join(due, ckpt)
    assert failed == ["f3"]
    assert latency["f0"] == 6.0 and latency["f1"] == 5.75 and latency["f2"] == 3.5
    attempted = len(due)
    assert len(failed) / attempted == 0.25  # the run's failed_frac


def test_file_missing_from_a_source_log_fails(tmp_path):
    ckpt = str(tmp_path)
    for b in ingest.BRANCHES:
        bdir = os.path.join(ckpt, b)
        _write_source_log(bdir, "0", [("f0", 0)] if b != "transactions" else [])
        _commit(bdir, 0, 10.0)
    latency, failed = ingest.latency_join({"f0": 9.0}, ckpt)
    assert latency == {} and failed == ["f0"]
