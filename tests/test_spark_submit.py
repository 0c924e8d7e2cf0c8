"""North-rule packaging check: the library runs via
``spark-submit --py-files sketchlib.zip`` — the exact deployment shape
of a multi-executor cluster (each executor receives the zip; no
repo checkout on the workers)."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def _build_zip(tmp_path) -> str:
    """Zip the sketchlib package the way a cluster submit would."""
    zip_path = tmp_path / "sketchlib.zip"
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = os.path.join(REPO, "sketchlib")
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return str(zip_path)


def _submit_env() -> dict:
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env.pop("PYTHONPATH", None)  # the zip must be the only source
    return env


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_py_files_roundtrip(tmp_path):
    """Zip the package, submit the sharded build+probe job from a
    clean cwd (sketchlib import can only resolve from the zip), and
    check the no-false-negative verdict line."""
    job = tmp_path / "job.py"
    shutil.copy(os.path.join(REPO, "tools", "pyfiles_job.py"), job)
    out = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", _build_zip(tmp_path),
            str(job),
        ],
        cwd=tmp_path,  # NOT the repo: proves the zip supplied the library
        env=_submit_env(),
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = next(
        ln for ln in out.stdout.splitlines() if ln.startswith("PYFILES_RESULT ")
    )
    res = json.loads(line.removeprefix("PYFILES_RESULT "))
    assert res["hits"] == 2000  # every inserted key answered: no false negatives
    assert res["false_pos"] <= 5  # 16-bit fingerprint FPR bound at n=2000


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_warc_ingest_job(tmp_path):
    """North-star E2E through the production entry point: WARC archives
    (one plain, one gzip, one with an injected exact-duplicate page) →
    streaming parse → scrub/dedup/quality/split corpus + sharded
    membership table, submitted via --py-files from a clean cwd."""
    from sketchlib.datagen import warc_bytes, write_warc

    n = 40
    write_warc(str(tmp_path / "a.warc"), n, seed=31)
    blob = warc_bytes(n, seed=32)
    # duplicate the whole second archive content once: every page of it
    # is an exact text duplicate, so dedup must halve that archive
    import gzip as _gzip

    (tmp_path / "b.warc.gz").write_bytes(_gzip.compress(blob + blob))
    job = tmp_path / "job.py"
    shutil.copy(os.path.join(REPO, "jobs", "warc_ingest_job.py"), job)
    out = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", _build_zip(tmp_path),
            str(job),
            "--input", str(tmp_path),
            "--output", str(tmp_path / "out"),
            "--shards", "4",
            "--min-tokens", "1",
        ],
        cwd=tmp_path,
        env=_submit_env(),
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = next(
        ln for ln in out.stdout.splitlines() if ln.startswith("WARC_INGEST_RESULT ")
    )
    res = json.loads(line.removeprefix("WARC_INGEST_RESULT "))
    assert res["pages_in"] == 3 * n  # a.warc + doubled b archive
    # the doubled archive's second copy must dedup away ENTIRELY
    # (docs_kept ≤ 2n), and most originals survive — a handful may
    # legitimately collapse too (cross-seed template collisions,
    # near-empty texts), so the floor is loose
    assert res["docs_kept"] <= 2 * n
    assert res["docs_kept"] >= int(2 * n * 0.85)
    assert res["dedup_and_quality_drop"] >= n  # ≥ the duplicated copy
    assert os.path.isdir(tmp_path / "out" / "corpus")
    assert os.path.isdir(tmp_path / "out" / "shards")


def _web_corpus(path, n: int = 3000, parts: int = 3) -> None:
    """``parts`` parquet files (one scan partition each) of generated
    pages whose first token break is U+00A0, U+2003 or U+3000 in turn,
    ``n`` large enough that each partition's KLL compacts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketchlib.datagen import generate_documents

    t = generate_documents(n, seed=7)
    spaces = ("\u00a0", "\u2003", "\u3000")
    text = [s.replace(" ", spaces[i % 3], 1) for i, s in enumerate(t.column("text").to_pylist())]
    t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(text, pa.string()))
    path.mkdir()
    for i in range(parts):
        pq.write_table(t.slice(i * n // parts, n // parts), path / f"d{i}.parquet")


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_web_build_job(tmp_path):
    """web_build_job E2E through spark-submit, three times on one
    corpus: without --checkpoint, with a fresh --checkpoint dir, and
    again on that dir, which resumes from the published partition rows.
    fixed/{hll,cms,kll}.bin must be byte-identical across the three
    (the flag decides only whether the build can resume), with non-ASCII
    whitespace between tokens and KLLs that compact; every sidecar
    artifact must land under --output via the Hadoop FS writer
    (metrics.json, fixed/*.bin), not on the driver's local cwd."""
    from sketchlib.serde import loads

    n = 3000
    _web_corpus(tmp_path / "in", n)
    job = tmp_path / "job.py"
    shutil.copy(os.path.join(REPO, "jobs", "web_build_job.py"), job)
    zip_path = _build_zip(tmp_path)
    ck = tmp_path / "ckpt"

    def run(out_dir, *extra):
        out = subprocess.run(
            [
                SPARK_SUBMIT,
                "--master", "local[4]",
                "--conf", "spark.sql.shuffle.partitions=4",
                "--conf", "spark.ui.enabled=false",
                # a partition's ~2 MB of text arrives as several batches,
                # its page sizes alone would fit in one: a fold that
                # scanned the sizes on their own got another KLL
                "--conf", "spark.sql.execution.arrow.maxBytesPerBatch=1048576",
                "--py-files", zip_path,
                str(job),
                "--input", str(tmp_path / "in"),
                "--output", str(out_dir),
                "--shards", "4",
                "--cms-width", "4096",
                *extra,
            ],
            cwd=tmp_path,
            env=_submit_env(),
            capture_output=True,
            text=True,
            timeout=420,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        res = json.loads(out.stdout.splitlines()[-1])
        assert res["rows"] == n
        assert res["cuckoo_items"] == n  # urls are unique in the corpus
        assert res["cuckoo_failures"] == 0
        assert abs(res["hll_distinct_urls"] - n) / n < 0.1
        assert (out_dir / "metrics.json").exists()
        blobs = {
            name: (out_dir / "fixed" / f"{name}.bin").read_bytes()
            for name in ("hll", "cms", "kll")
        }
        for blob in blobs.values():
            loads(blob)  # deserializes as a sketch
        return blobs

    plain = run(tmp_path / "plain")
    fresh = run(tmp_path / "fresh", "--checkpoint", str(ck))
    published = sorted(f for f in os.listdir(ck) if f.endswith(".arrow"))
    assert published == [f"part-{pid:05d}.arrow" for pid in range(3)]
    resumed = run(tmp_path / "resumed", "--checkpoint", str(ck))
    assert fresh == plain and resumed == plain
    kll = loads(plain["kll"])
    assert kll.n == n  # one page-size observation per doc
    assert len(kll.compactors) > 1  # compacted: the merge order shows in the bytes


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_py_files_two_cluster_sizes(tmp_path):
    """The north rule's literal deployment sentence in one test:
    ``spark-submit --py-files`` on a MULTI-EXECUTOR cluster at TWO
    cluster sizes — N=1 and 4N=4 separate executor JVMs
    (``local-cluster[1,2,1024]`` vs ``local-cluster[4,2,1024]``), the
    library resolving only from the shipped zip on every executor.
    Results must be identical at both sizes (sharding and probing are
    content-hashed, never layout-dependent). Efficiency is NOT gated
    here — a 2000-key job is fixed-cost dominated; the ≥0.8 gate runs
    on the 4M-doc corpus (`bench.py --lc-scaling`, SCALING_r5.json)."""
    import time

    job = tmp_path / "job.py"
    shutil.copy(os.path.join(REPO, "tools", "pyfiles_job.py"), job)
    zip_path = _build_zip(tmp_path)
    results = {}
    for workers in (1, 4):
        t0 = time.perf_counter()
        out = subprocess.run(
            [
                SPARK_SUBMIT,
                "--master", f"local-cluster[{workers},2,1024]",
                "--conf", "spark.sql.shuffle.partitions=4",
                "--conf", "spark.ui.enabled=false",
                "--py-files", zip_path,
                str(job),
            ],
            cwd=tmp_path,  # NOT the repo: the zip is the only source
            env=_submit_env(),
            capture_output=True,
            text=True,
            timeout=420,
        )
        wall = time.perf_counter() - t0
        assert out.returncode == 0, out.stderr[-2000:]
        line = next(
            ln for ln in out.stdout.splitlines()
            if ln.startswith("PYFILES_RESULT ")
        )
        results[workers] = json.loads(line.removeprefix("PYFILES_RESULT "))
        results[workers]["_wall_sec"] = round(wall, 1)
    r1, r4 = results[1], results[4]
    # multi-executor really engaged: driver + N separate executor JVMs
    assert r1["executors_plus_driver"] == 2
    assert r4["executors_plus_driver"] == 5
    assert r1["hits"] == 2000 and r4["hits"] == 2000  # no false negatives
    # content-hashed sharding: the answer is executor-count invariant
    assert r1["false_pos"] == r4["false_pos"]
    assert r1["false_pos"] <= 5
