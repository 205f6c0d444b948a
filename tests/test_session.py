"""The session layer: the engine's worker daemon and the shipped package zip."""
import importlib
import os
import subprocess
import sys
import zipfile

from esda_spark.session import _DAEMON_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Importing esda_daemon patches zipimport for the whole process, so this
# runs in a fresh interpreter: argv[1] is the daemon dir, argv[2] a temp dir.
_ZIP_CHECK = r"""
import importlib, os, sys, zipfile, zipimport
sys.path.insert(0, sys.argv[1])
import esda_daemon
assert zipimport.zipimporter.invalidate_caches is esda_daemon.invalidate_caches

path = os.path.join(sys.argv[2], "mods.zip")

def write(mods):
    part = path + ".part"
    with zipfile.ZipFile(part, "w") as zf:
        for m in mods:
            zf.writestr(m + ".py", "NAME = %r\n" % m)
    os.replace(part, path)

write(["a"])
sys.path.insert(0, path)
import a
importlib.invalidate_caches()  # records the key of the archive as read

write(["a", "b"])
importlib.invalidate_caches()
import b

reads = []
read_directory = zipimport._read_directory
def counting(archive):
    reads.append(archive)
    return read_directory(archive)
zipimport._read_directory = counting
importlib.invalidate_caches()
assert path not in reads, reads

os.remove(path)  # a failing stat re-reads every time
importlib.invalidate_caches()
importlib.invalidate_caches()
assert reads.count(path) == 2, reads
print("ok")
"""


def test_daemon_rereads_a_zip_only_when_it_changed(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_CHECK, _DAEMON_DIR, str(tmp_path)],
        capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_daemon_imports_a_later_addpyfile_zip(spark, tmp_path):
    assert spark.conf.get("spark.python.daemon.module") == "esda_daemon"
    df = spark.range(8, numPartitions=2)
    assert df.mapInPandas(lambda it: it, df.schema).count() == 8

    mod = "esda_session_addpyfile_probe"
    path = tmp_path / "probe.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{mod}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(path))

    def probe(it):
        value = importlib.import_module(mod).VALUE
        daemon = sys.modules["__main__"].__spec__.name
        for pdf in it:
            yield pdf.assign(value=value, daemon=daemon)

    rows = df.mapInPandas(probe, "id long, value long, daemon string").collect()
    assert len(rows) == 8
    assert {(r.value, r.daemon) for r in rows} == {(42, "esda_daemon")}


def test_shipped_zip_removed_at_exit(tmp_path):
    code = (
        "import os, tempfile\n"
        "from esda_spark.session import get_spark\n"
        "get_spark('zip-at-exit', parallelism=1)\n"
        "print(sorted(os.listdir(tempfile.gettempdir())))\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr
    assert "esda_spark_pkg_" in out.stdout  # the zip existed while running
    assert not [p for p in os.listdir(tmp_path) if p.startswith("esda_spark_pkg_")]
