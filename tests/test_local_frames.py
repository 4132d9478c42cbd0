"""Driver-built frames are Arrow local relations (``session.local_frame``):
the point-read paths launch no Spark job for their key frames, and no
library code builds a frame from a Python list through the Python-RDD
path any more."""

import ast
import pathlib

from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable

SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
          ("lang", "string"), ("content", "string")]
ROOT = pathlib.Path(__file__).resolve().parent.parent


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string, _op string, _gtid long")


def _jobs_of(spark, fn):
    """(fn(), Spark jobs fn launched) — from the scheduler's job counter."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    out = fn()
    return out, sched.nextJobId() - before


def test_point_read_key_frames_launch_no_job(spark, tmp_path):
    empty = LakeTable.create(spark, str(tmp_path / "e"), SCHEMA,
                             ["repo", "path"], num_buckets=4)
    rows, n = _jobs_of(spark, lambda: empty.read().collect())
    assert rows == [] and n == 0

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], num_buckets=4)
    t.merge(_batch(spark, [(f"r{i}", f"f{i}.py", f"c{i}", "py", f"v{i}",
                            "INSERT", i + 1) for i in range(16)]),
            batch_id=1, mode="mor")
    t.merge(_batch(spark, [
        ("r3", "f3.py", "c3b", "py", "v3b", "UPDATE", 30),
        ("r5", "f5.py", None, None, None, "DELETE", 31),
    ]), batch_id=2, mode="mor")
    assert any(fi.get("kind") == "delta" for fi in t.snapshot.files)
    keys = [(f"r{i}", f"f{i}.py") for i in range(0, 16, 2)] + [("r3", "f3.py")]

    bks, n = _jobs_of(spark, lambda: t.key_buckets(keys))
    assert len(bks) == len(keys) and n == 0
    # building the plan computes the key's bucket; no job until collect
    _, n = _jobs_of(spark, lambda: t.lookup("r3", "f3.py"))
    assert n == 0

    got, n = _jobs_of(spark, lambda: t.lookup_many(keys).collect())
    assert sorted((r["repo"], r["path"], r["content"]) for r in got) == sorted(
        [(f"r{i}", f"f{i}.py", f"v{i}") for i in range(0, 16, 2)]
        + [("r3", "f3.py", "v3b")])
    # the bucket computation runs no job; the scan, the resolve and the
    # probe frame's broadcast do (4 before)
    assert n <= 3, n


def _create_dataframe_calls(path: pathlib.Path):
    """(line, enclosing function) of every ``createDataFrame(`` call."""
    tree = ast.parse(path.read_text(), filename=str(path))
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"):
                out.append((child.lineno, fn))
            visit(child, fn)

    visit(tree, None)
    return out


def test_library_builds_frames_only_through_local_frame():
    pkg = ROOT / "th2_listener_mysql_binlog_go_spark"
    files = sorted(pkg.rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    offenders, helper_calls = [], 0
    for path in files:
        for line, fn in _create_dataframe_calls(path):
            if path.name == "session.py" and fn == "local_frame":
                helper_calls += 1
            else:
                offenders.append(f"{path.relative_to(ROOT)}:{line} in {fn}")
    assert helper_calls == 1
    assert not offenders, (
        "build driver-side frames with session.local_frame, not "
        f"createDataFrame: {offenders}")
