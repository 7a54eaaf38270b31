"""spark-submit smoke test: the cluster launch path (``--py-files`` zip +
driver-memory flags in scripts/submit_extraction.sh) must stay working —
a 1g-default-driver OOM class was only ever caught by this surface (see
BENCH/BASELINE.md robustness notes), never by in-process tests."""

import os
import shutil
import subprocess
import tempfile
import unittest
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


@unittest.skipUnless(shutil.which("spark-submit"), "spark-submit not on PATH")
class TestSparkSubmit(unittest.TestCase):
    def test_submit_extraction_smoke(self):
        """Run from a directory outside the repo with ``PYTHONPATH`` unset,
        so the workers can import ``doctor_spark`` only from the
        ``--py-files`` zip."""
        out = "/tmp/doctor_spark_submit_smoke"
        shutil.rmtree(out, ignore_errors=True)
        env = dict(
            os.environ,
            MASTER="local[4]",
            DRIVER_MEM="4g",
            NUM_EXECUTORS="",
        )
        env.pop("PYTHONPATH", None)
        # synthetic corpus mode: run_extraction accepts corpus=synth:<n>
        with tempfile.TemporaryDirectory() as cwd:
            proc = subprocess.run(
                [str(REPO / "scripts/submit_extraction.sh"), "synth:300", out],
                env=env,
                capture_output=True,
                text=True,
                timeout=420,
                cwd=cwd,
            )
        assert proc.returncode == 0, proc.stderr[-4000:]
        assert (Path(out) / "extracted").exists(), proc.stdout[-2000:]
        assert '"golden_mismatches": 0' in proc.stdout, proc.stdout[-2000:]

    def test_submitted_master_is_respected(self):
        """--master from spark-submit must reach the session: get_spark's
        builder.master() silently overrode it to local[32] (round-4
        finding — every 'local[4]' scaling leg ran at 32 threads)."""
        probe = "/tmp/doctor_spark_master_probe.py"
        Path(probe).write_text(
            "from doctor_spark.session import get_spark\n"
            "s = get_spark('probe')\n"
            "print('EFFECTIVE_MASTER=' + s.sparkContext.master)\n"
            "s.stop()\n"
        )
        zip_path = "/tmp/doctor_spark_probe.zip"
        Path(zip_path).unlink(missing_ok=True)
        subprocess.run(
            ["zip", "-qr", zip_path, "doctor_spark"], cwd=str(REPO),
            check=True,
        )
        env = {
            k: v for k, v in os.environ.items()
            if not k.startswith("SPARK_GRAFT_")
        }
        proc = subprocess.run(
            [
                "spark-submit", "--master", "local[3]",
                "--driver-memory", "2g", "--py-files", zip_path, probe,
            ],
            env=env, capture_output=True, text=True, timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert "EFFECTIVE_MASTER=local[3]" in proc.stdout, proc.stdout[-1000:]

    def test_cpus_hint_does_not_override_submitted_master(self):
        """SPARK_GRAFT_CPUS is a sizing hint, not a master request: under
        spark-submit --master X with only SPARK_GRAFT_CPUS set (no
        SPARK_GRAFT_MASTER), the launcher's master must survive — the
        advisor-flagged residual of the round-4 measurement-bug class."""
        probe = "/tmp/doctor_spark_master_probe2.py"
        Path(probe).write_text(
            "from doctor_spark.session import get_spark\n"
            "s = get_spark('probe2')\n"
            "print('EFFECTIVE_MASTER=' + s.sparkContext.master)\n"
            "print('SHUFFLE_PARTS=' + s.conf.get('spark.sql.shuffle.partitions'))\n"
            "s.stop()\n"
        )
        zip_path = "/tmp/doctor_spark_probe.zip"
        if not Path(zip_path).exists():
            subprocess.run(
                ["zip", "-qr", zip_path, "doctor_spark"], cwd=str(REPO),
                check=True,
            )
        env = {
            k: v for k, v in os.environ.items()
            if not k.startswith("SPARK_GRAFT_")
        }
        env["SPARK_GRAFT_CPUS"] = "16"
        proc = subprocess.run(
            [
                "spark-submit", "--master", "local[3]",
                "--driver-memory", "2g", "--py-files", zip_path, probe,
            ],
            env=env, capture_output=True, text=True, timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        # master stays the launcher's; the CPU hint still sizes confs
        assert "EFFECTIVE_MASTER=local[3]" in proc.stdout, proc.stdout[-1000:]
        assert "SHUFFLE_PARTS=16" in proc.stdout, proc.stdout[-1000:]
