"""Staging of the package zip shipped to executors: no Spark needed."""

from __future__ import annotations

import os
import zipfile

from archive_to_parquet_spark.session import package_zip


def _package_tree(root, init_src: bytes) -> str:
    pkg = root / "demo_pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_bytes(init_src)
    (pkg / "sub" / "mod.py").write_bytes(b"X = 1\n")
    (pkg / "notes.txt").write_bytes(b"not shipped\n")
    return str(pkg)


def test_package_zip_is_named_by_content(tmp_path):
    out = tmp_path / "out"
    out.mkdir()
    a = _package_tree(tmp_path / "a", b"VALUE = 1\n")
    b = _package_tree(tmp_path / "b", b"VALUE = 2\n")  # one byte differs
    same = _package_tree(tmp_path / "c", b"VALUE = 1\n")

    zip_a = package_zip(a, str(out))
    zip_b = package_zip(b, str(out))
    assert zip_a != zip_b
    # an older-mtime copy of identical code shares the zip, never rebuilt
    os.utime(os.path.join(same, "__init__.py"), (1, 1))
    built = os.stat(zip_a).st_mtime_ns
    assert package_zip(same, str(out)) == zip_a
    assert os.stat(zip_a).st_mtime_ns == built
    assert sorted(os.listdir(out)) == sorted(
        os.path.basename(z) for z in (zip_a, zip_b)
    )

    with zipfile.ZipFile(zip_b) as zf:
        assert sorted(zf.namelist()) == ["demo_pkg/__init__.py", "demo_pkg/sub/mod.py"]
        assert zf.read("demo_pkg/__init__.py") == b"VALUE = 2\n"
