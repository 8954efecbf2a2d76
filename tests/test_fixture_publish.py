"""The fixture publish protocol: every ``parser_ops`` fixture directory
appears complete (with ``_DONE``) or not at all, and a failed build leaves
no partial directory and no temporary one behind."""

from __future__ import annotations

import os

import pytest

from tectonic_spark.operators import parser_ops


@pytest.fixture
def root(tmp_path, monkeypatch):
    monkeypatch.setattr(parser_ops, "_FIXTURE_ROOT", str(tmp_path))
    return tmp_path


def _entries(path) -> list[str]:
    return sorted(os.listdir(path))


def _fixture_entries(root) -> list[str]:
    """Every name under the fixture root's single per-dataset directory."""
    (tag,) = os.listdir(root)
    return _entries(os.path.join(root, tag))


def test_returns_a_published_directory_without_building(tmp_path):
    src = tmp_path / "fx"
    src.mkdir()
    (src / "_DONE").write_bytes(b"ok")

    def build(_tmp):
        raise AssertionError("a published fixture is not rebuilt")

    assert parser_ops._published(str(src), build) == str(src)
    assert _entries(tmp_path) == ["fx"]


def test_publishes_build_output_with_done_marker(tmp_path):
    src = str(tmp_path / "fx")
    seen = []

    def build(tmp):
        seen.append(tmp)
        open(os.path.join(tmp, "a.txt"), "w").close()

    assert parser_ops._published(src, build) == src
    assert seen == [f"{src}.tmp-{os.getpid()}"]
    assert _entries(src) == ["_DONE", "a.txt"]
    assert _entries(tmp_path) == ["fx"]


def test_failed_build_raises_its_own_error_and_leaves_nothing(tmp_path):
    def build(tmp):
        open(os.path.join(tmp, "half.txt"), "w").close()
        raise ValueError("builder broke")

    with pytest.raises(ValueError, match="builder broke"):
        parser_ops._published(str(tmp_path / "fx"), build)
    assert _entries(tmp_path) == []


def test_concurrent_winner_is_kept(tmp_path):
    src = tmp_path / "fx"

    def build(tmp):
        open(os.path.join(tmp, "mine.txt"), "w").close()
        # another builder publishes while this one is still building
        src.mkdir()
        (src / "theirs.txt").write_text("t")
        (src / "_DONE").write_bytes(b"ok")

    assert parser_ops._published(str(src), build) == str(src)
    assert _entries(src) == ["_DONE", "theirs.txt"]
    assert _entries(tmp_path) == ["fx"]


def test_stale_directory_without_done_is_replaced(tmp_path):
    src = tmp_path / "fx"
    src.mkdir()
    (src / "partial.txt").write_text("left by an interrupted build")

    def build(tmp):
        open(os.path.join(tmp, "full.txt"), "w").close()

    assert parser_ops._published(str(src), build) == str(src)
    assert _entries(src) == ["_DONE", "full.txt"]
    assert _entries(tmp_path) == ["fx"]


def test_other_rename_failure_raises(tmp_path):
    src = tmp_path / "fx"
    src.write_text("a file where the directory belongs")

    def build(tmp):
        open(os.path.join(tmp, "a.txt"), "w").close()

    with pytest.raises(NotADirectoryError):
        parser_ops._published(str(src), build)
    assert _entries(tmp_path) == ["fx"]
    assert src.read_text() == "a file where the directory belongs"


def test_failed_warc_build_leaves_no_temporary_directory(root, sf_dir, monkeypatch):
    from tectonic_spark.operators import warc

    calls = []

    def write_warc(recs):
        calls.append(len(recs))
        if len(calls) == 2:
            raise RuntimeError("disk full")
        return b""

    monkeypatch.setattr(warc, "write_warc", write_warc)
    with pytest.raises(RuntimeError, match="disk full"):
        parser_ops._warc_shards_src(sf_dir)
    assert len(calls) == 2
    assert not [e for e in _fixture_entries(root) if e.startswith("a25_src")]


def test_failed_in_place_build_leaves_no_partial_directory(root, sf_dir, monkeypatch):
    import gzip

    def compress(*_a, **_k):
        raise RuntimeError("codec broke")

    monkeypatch.setattr(gzip, "compress", compress)
    with pytest.raises(RuntimeError, match="codec broke"):
        parser_ops._docs_gz_mixed_src(sf_dir)
    assert not [e for e in _fixture_entries(root) if e.startswith("a20_src")]


def test_index_exports_arrive_in_name_order(root, sf_dir):
    """Spark's file stream source orders new files by mtime: the three
    s17/s18 exports must be at least a second apart, oldest first."""
    src, _a_idx, _b = parser_ops._index_export_src(sf_dir)
    names = [n for n in _entries(src) if n.endswith(".cdxj")]
    assert names == ["export-000.cdxj", "export-001.cdxj", "export-002.cdxj"]
    mtimes = [os.stat(os.path.join(src, n)).st_mtime_ns for n in names]
    assert all(b - a >= 1_000_000_000 for a, b in zip(mtimes, mtimes[1:])), mtimes


@pytest.mark.parametrize("n", [0, 1, 7, 30, 99, 120, 203, 1000])
def test_dup_count_matches_the_written_layout(n):
    """s06 and s10 take their injected-duplicate count from ``_n_dups``;
    it must equal what ``_dup_quarters`` writes."""
    lines = [f"l{i}" for i in range(n)]
    bodies = parser_ops._dup_quarters(lines)
    assert set().union(*bodies) == set(lines)
    assert sum(map(len, bodies)) - n == parser_ops._n_dups(n)
