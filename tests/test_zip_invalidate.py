"""The package's ``zipimporter.invalidate_caches`` wrapper: an archive
whose (mtime, size) is unchanged is not re-read; a rewritten one is,
and a module added to it then imports."""

import sys
import zipfile
import zipimport

import ddaugner_spark  # noqa: F401  (installs the wrapper)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zw_first": "X = 1\n"})
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()  # first call: this importer's own read
    n = len(reads)
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert len(reads) == n  # unchanged archive: not re-read

    _write_zip(archive, {"zw_first": "X = 1\n", "zw_added": "Y = 2\n"})
    imp.invalidate_caches()
    assert len(reads) == n + 1  # rewritten archive: re-read

    monkeypatch.syspath_prepend(archive)
    monkeypatch.setitem(sys.path_importer_cache, archive, imp)
    try:
        import zw_added

        assert zw_added.Y == 2
    finally:
        sys.modules.pop("zw_added", None)
