"""Executed proof of the spark-submit packaging story (SURVEY §7.2 step 8):
the zip built by tools/package.sh is the ONLY source of the package in
these subprocesses — no repo fallback on sys.path."""

import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def pkg_zip(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pkg") / "fdv.zip")
    subprocess.run(["bash", os.path.join(REPO, "tools", "package.sh"), out],
                   check=True, cwd=REPO, capture_output=True)
    return out


def test_zip_contains_whole_package_and_nothing_else(pkg_zip):
    with zipfile.ZipFile(pkg_zip) as z:
        names = z.namelist()
    assert "fhir_data_validation_spark/__init__.py" in names
    assert "fhir_data_validation_spark/streaming/sink.py" in names
    assert all(n.startswith("fhir_data_validation_spark/") for n in names)
    assert not any("__pycache__" in n or n.endswith(".pyc") for n in names)
    # the on-disk package and the zip ship the same module set
    disk = {os.path.relpath(os.path.join(d, f), REPO)
            for d, _, fs in os.walk(os.path.join(
                REPO, "fhir_data_validation_spark"))
            for f in fs if f.endswith(".py") and "__pycache__" not in d}
    assert disk == set(names)


def test_zip_only_import_compiles_rules(pkg_zip, tmp_path):
    """Import from the zip with the repo absent from sys.path: the
    driver-side surface (rule model, registry, grammars) must work."""
    code = (
        "import sys, json, os\n"
        "assert not os.path.isdir('fhir_data_validation_spark')\n"
        "import fhir_data_validation_spark as m\n"
        f"assert m.__file__.startswith({pkg_zip!r}), m.__file__\n"
        "from fhir_data_validation_spark.model import RuleSet\n"
        "from fhir_data_validation_spark.grammars import PRIMITIVE_GRAMMARS\n"
        "rs = RuleSet.from_json(open(sys.argv[1]).read())\n"
        "print(len(rs.rules), len(PRIMITIVE_GRAMMARS))\n")
    env = {**os.environ, "PYTHONPATH": pkg_zip}
    out = subprocess.run(
        [sys.executable, "-c", code,
         os.path.join(REPO, "examples", "rules_tokens.json")],
        env=env, cwd=str(tmp_path), capture_output=True, text=True)
    assert out.returncode == 0, out.stderr[-2000:]
    n_rules, n_grammars = map(int, out.stdout.split())
    assert n_rules >= 5 and n_grammars >= 11


def test_spark_submit_py_files_end_to_end(pkg_zip, tmp_path):
    """The cluster deployment shape, actually executed: spark-submit with
    ONLY --py-files providing the engine (the job script is copied out of
    the repo so its repo-root sys.path fallback cannot fire) runs a full
    synth validation and writes violations + verdicts + summary."""
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    job = str(tmp_path / "run_validation.py")
    shutil.copyfile(os.path.join(REPO, "jobs", "run_validation.py"), job)
    out_dir = str(tmp_path / "out")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [spark_submit, "--master", "local[2]", "--py-files", pkg_zip,
         job, "--synth", "2000", "--output", out_dir,
         "--run-id", "pkgtest", "--cores", "2"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=600)
    # 0 = all verdicts pass, 1 = failed verdicts (the synth corpus seeds
    # corruption on purpose); anything else is a crash
    assert res.returncode in (0, 1), res.stderr[-3000:]
    assert os.path.isdir(os.path.join(out_dir, "violations"))
    assert os.path.isdir(os.path.join(out_dir, "verdicts"))
    assert '"failed_verdicts"' in res.stdout
