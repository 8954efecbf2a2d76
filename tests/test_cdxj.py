"""CDXJ index tests: SURT canonicalization, line round-trips, indexed
member extents (ranged read inflates exactly one record), digest
convention, sorted-file contract, error taxonomy."""

import io
import zlib

import pytest

from tectonic_spark.operators.cdxj import (
    build_cdxj,
    fetch_member,
    parse_cdxj,
    payload_digest,
    surt,
    warc_timestamp,
    write_warc_indexed,
)
from tectonic_spark.operators.warc import build_warc_record, parse_warc


class TestSurt:
    def test_basic(self):
        assert surt("https://src.example/doc/5") == "example,src)/doc/5"

    def test_www_and_case(self):
        assert surt("http://WWW.News.Example.COM/A/b") == "com,example,news)/A/b"

    def test_query_params_sorted(self):
        assert surt("https://h.io/p?b=2&a=1") == "io,h)/p?a=1&b=2"

    def test_port_and_userinfo_dropped(self):
        assert surt("https://u:p@host.net:8443/x") == "net,host)/x"

    def test_clustering_order(self):
        # all captures of a host sort together, ahead of other hosts
        keys = sorted(
            surt(u)
            for u in [
                "https://b.example/z",
                "https://a.example/1",
                "https://a.example/2",
            ]
        )
        assert keys == ["example,a)/1", "example,a)/2", "example,b)/z"]


class TestTimestamp:
    def test_warc_date(self):
        assert warc_timestamp("2024-01-01T00:00:00Z") == "20240101000000"
        assert warc_timestamp("2023-12-31T23:59:58Z") == "20231231235958"

    def test_bad(self):
        with pytest.raises(ValueError, match="WARC-Date"):
            warc_timestamp("not a date")


def _entries(n=5):
    recs = []
    for i in range(n):
        payload = f"payload {i} ".encode() * 20
        rec = build_warc_record(
            "response", payload, uri=f"https://s{i % 2}.example/doc/{i}"
        )
        recs.append(
            (
                rec,
                {
                    "url": f"https://s{i % 2}.example/doc/{i}",
                    "ts": "20240101000000",
                    "digest": payload_digest(payload),
                    "mime": "text/html",
                    "status": 200,
                    "filename": "shard.warc.gz",
                },
            )
        )
    return recs


class TestIndexedWrite:
    def test_extents_cover_and_partition(self):
        blob, entries = write_warc_indexed(_entries())
        # extents tile the shard exactly (no gaps, no overlap)
        pos = 0
        for e in entries:
            assert e["offset"] == pos
            pos += e["length"]
        assert pos == len(blob)

    def test_unindexed_records_written(self):
        recs = _entries(2)
        info = build_warc_record("warcinfo", b"x: y\r\n")
        blob, entries = write_warc_indexed([(info, None)] + recs)
        assert len(entries) == 2
        assert entries[0]["offset"] > 0  # warcinfo member precedes
        assert len(parse_warc(blob)) == 3

    def test_ranged_fetch_exact(self):
        blob, entries = write_warc_indexed(_entries())
        f = io.BytesIO(blob)
        for e in entries:
            member = fetch_member(f, e["offset"], e["length"])
            recs = parse_warc(member)
            assert len(recs) == 1
            assert payload_digest(recs[0]["payload"]) == e["digest"]
            assert recs[0]["uri"] == e["url"]

    def test_fetch_truncated(self):
        blob, entries = write_warc_indexed(_entries())
        e = entries[-1]
        with pytest.raises(EOFError, match="truncated|incomplete"):
            fetch_member(io.BytesIO(blob[: e["offset"] + 5]), e["offset"], e["length"])

    def test_fetch_short_length(self):
        blob, entries = write_warc_indexed(_entries())
        e = entries[0]
        with pytest.raises(EOFError, match="incomplete"):
            fetch_member(io.BytesIO(blob), e["offset"], e["length"] - 3)

    def test_fetch_overshoot_length(self):
        blob, entries = write_warc_indexed(_entries())
        e = entries[0]
        with pytest.raises(ValueError, match="overshoot"):
            fetch_member(io.BytesIO(blob), e["offset"], e["length"] + 4)

    def test_fetch_bad_offset(self):
        blob, entries = write_warc_indexed(_entries())
        with pytest.raises(ValueError, match="bad gzip member"):
            fetch_member(io.BytesIO(blob), entries[1]["offset"] + 1, 50)


class TestCdxjLines:
    def test_roundtrip(self):
        blob, entries = write_warc_indexed(_entries())
        data = build_cdxj(entries)
        back = parse_cdxj(data)
        assert len(back) == len(entries)
        by_url = {e["url"]: e for e in entries}
        for b in back:
            e = by_url[b["url"]]
            assert (b["offset"], b["length"], b["digest"]) == (
                e["offset"],
                e["length"],
                e["digest"],
            )
            assert b["key"] == surt(b["url"]) and b["ts"] == "20240101000000"

    def test_sorted(self):
        data = build_cdxj(_e for _e in write_warc_indexed(_entries())[1])
        lines = data.decode().splitlines()
        assert lines == sorted(lines)

    def test_malformed_line(self):
        with pytest.raises(ValueError, match="malformed"):
            parse_cdxj(b"onlyonefield\n")

    def test_bad_timestamp(self):
        with pytest.raises(ValueError, match="timestamp"):
            parse_cdxj(b'key notadigit14 {"url":"x"}\n')


class TestZipnum:
    def _lines(self, n=200):
        # sorted synthetic CDXJ lines over 3 hosts
        lines = []
        for i in range(n):
            host = ("a", "b", "c")[i % 3]
            lines.append(
                f'example,{host})/doc/{i:05d} 20240101000000 '
                f'{{"url":"https://{host}.example/doc/{i:05d}","length":{i}}}'
            )
        return sorted(lines)

    def test_blocks_partition_lines(self):
        from tectonic_spark.operators.cdxj import write_zipnum

        lines = self._lines()
        blob, entries = write_zipnum(lines, block_lines=32)
        # extents tile the blob; inflating every block recovers all lines
        pos = 0
        got = []
        import io

        from tectonic_spark.operators.cdxj import fetch_member

        for e in entries:
            assert e["offset"] == pos
            pos += e["length"]
            block = fetch_member(io.BytesIO(blob), e["offset"], e["length"])
            blines = block.decode().splitlines()
            assert blines[0].split(" ", 1)[0] == e["key"]
            got.extend(blines)
        assert pos == len(blob)
        assert got == lines

    def test_unsorted_rejected(self):
        from tectonic_spark.operators.cdxj import write_zipnum

        with pytest.raises(ValueError, match="sorted"):
            write_zipnum(["b x", "a x"])

    def test_cluster_idx_roundtrip(self):
        from tectonic_spark.operators.cdxj import (
            build_cluster_idx,
            parse_cluster_idx,
            write_zipnum,
        )

        _, entries = write_zipnum(self._lines(), block_lines=32)
        back = parse_cluster_idx(build_cluster_idx(entries, "idx.gz"))
        assert [(b["key"], b["offset"], b["length"]) for b in back] == [
            (e["key"], e["offset"], e["length"]) for e in entries
        ]
        assert all(b["filename"] == "idx.gz" for b in back)

    def test_block_range_binary_search(self):
        from tectonic_spark.operators.cdxj import (
            write_zipnum,
            zipnum_block_range,
        )

        lines = self._lines()
        _, entries = write_zipnum(lines, block_lines=32)
        keys = [e["key"] for e in entries]
        # every line's key must land inside its actual block's range
        for i, ln in enumerate(lines):
            key = ln.split(" ", 1)[0]
            lo, hi = zipnum_block_range(keys, key)
            assert lo <= i // 32 < hi, (key, lo, hi, i // 32)
            assert hi - lo <= 2
        # a key before everything -> empty range
        assert zipnum_block_range(keys, "aaa") == (0, 0)

    def test_equal_key_spans_blocks(self):
        from tectonic_spark.operators.cdxj import (
            write_zipnum,
            zipnum_block_range,
        )

        # the same SURT key repeated across a block boundary (multiple
        # captures of one URL) must widen the candidate range
        lines = sorted(["k)/dup 20240101000000 {}"] * 70 + ["a)/x 20240101000000 {}"])
        _, entries = write_zipnum(lines, block_lines=32)
        keys = [e["key"] for e in entries]
        lo, hi = zipnum_block_range(keys, "k)/dup")
        assert hi - lo >= 2  # spans at least two blocks


class TestIncrementalUpdate:
    def _mk_lines(self, ids, ts="20240101000000", digest_tag="J"):
        lines = []
        for i in ids:
            host = ("a", "b", "c")[i % 3]
            lines.append(
                f'example,{host})/doc/{i:05d} {ts} '
                f'{{"url":"https://{host}.example/doc/{i:05d}",'
                f'"digest":"D{digest_tag}{i:05d}","filename":"crawl.warc.gz",'
                f'"offset":{i * 100},"length":90}}'
            )
        return sorted(lines)

    def _base_index(self, tmp_path, n=300):
        from tectonic_spark.operators.cdxj import (
            build_cluster_idx,
            write_zipnum,
        )

        lines = self._mk_lines(range(n))
        blob, entries = write_zipnum(lines, block_lines=32)
        (tmp_path / "index.zipnum.gz").write_bytes(blob)
        (tmp_path / "cluster.idx").write_bytes(
            build_cluster_idx(entries, "index.zipnum.gz")
        )
        return lines

    def test_update_appends_without_rewriting(self, tmp_path):
        import hashlib

        from tectonic_spark.operators.cdxj import (
            cluster_entries_by_file,
            fetch_member,
            incremental_zipnum_update,
            index_lines,
            multi_zipnum_blocks,
            parse_cluster_idx,
        )

        base = self._base_index(tmp_path)
        before = hashlib.sha256(
            (tmp_path / "index.zipnum.gz").read_bytes()
        ).hexdigest()
        # delta: 100 duplicates of existing lines + 60 new Feb captures
        dupes = self._mk_lines(range(0, 300, 3))
        feb = self._mk_lines(range(0, 300, 5), ts="20240201000000",
                             digest_tag="F")
        stats = incremental_zipnum_update(
            str(tmp_path), sorted(dupes + feb), block_lines=32
        )
        assert stats["n_delta"] == len(dupes) + len(feb)
        assert stats["n_dropped"] == len(dupes)
        assert stats["n_appended"] == len(feb)
        # the existing block file is byte-identical
        after = hashlib.sha256(
            (tmp_path / "index.zipnum.gz").read_bytes()
        ).hexdigest()
        assert after == before
        assert (tmp_path / "delta-001.zipnum.gz").exists()
        # dedup read a bounded fraction, not the whole index
        assert stats["dedup_bytes_read"] < len(
            (tmp_path / "index.zipnum.gz").read_bytes()
        ) * 2
        # every line is findable through the updated index, exactly once
        entries = parse_cluster_idx((tmp_path / "cluster.idx").read_bytes())
        by_file = cluster_entries_by_file(entries)
        assert set(by_file) == {"index.zipnum.gz", "delta-001.zipnum.gz"}
        # reading the whole updated index returns the base lines and the
        # surviving delta lines, each once: block files in the order
        # cluster.idx first names them, each file's blocks in offset order
        per_file = {"index.zipnum.gz": base, "delta-001.zipnum.gz": sorted(feb)}
        file_order = list(dict.fromkeys(e["filename"] for e in entries))
        assert index_lines(str(tmp_path)) == [
            ln for f in file_order for ln in per_file[f]
        ]
        all_lines = set(base) | set(feb)
        found = []
        handles = {
            f: open(tmp_path / f, "rb") for f in by_file
        }
        seen_blocks = set()
        for ln in sorted(all_lines):
            key = ln.split(" ", 1)[0]
            hit = 0
            for e in multi_zipnum_blocks(by_file, key):
                bid = (e["filename"], e["offset"])
                block = fetch_member(
                    handles[e["filename"]], e["offset"], e["length"]
                )
                seen_blocks.add(bid)
                hit += block.decode().splitlines().count(ln)
            found.append(hit)
        for f in handles.values():
            f.close()
        assert all(h == 1 for h in found)
        # dupes resolve to the ORIGINAL collection's line (keep-first):
        # no delta block contains a January line
        with open(tmp_path / "delta-001.zipnum.gz", "rb") as f:
            for e in by_file["delta-001.zipnum.gz"]:
                block = fetch_member(f, e["offset"], e["length"])
                assert b" 20240101000000 " not in block

    def test_second_generation_and_overwrite_refused(self, tmp_path):
        from tectonic_spark.operators.cdxj import incremental_zipnum_update

        self._base_index(tmp_path, n=60)
        feb = self._mk_lines(range(0, 60, 5), ts="20240201000000",
                             digest_tag="F")
        incremental_zipnum_update(str(tmp_path), feb, block_lines=32)
        with pytest.raises(FileExistsError):
            incremental_zipnum_update(str(tmp_path), feb, block_lines=32)
        # generation 2: the SAME lines now dedup against generation 1
        stats = incremental_zipnum_update(
            str(tmp_path), feb, generation=2, block_lines=32
        )
        assert stats["n_appended"] == 0 and stats["n_dropped"] == len(feb)
        assert not (tmp_path / "delta-002.zipnum.gz").exists()

    def test_unsorted_delta_rejected(self, tmp_path):
        from tectonic_spark.operators.cdxj import incremental_zipnum_update

        self._base_index(tmp_path, n=40)
        with pytest.raises(ValueError, match="sorted"):
            incremental_zipnum_update(str(tmp_path), ["b x {}", "a x {}"])

    def test_compaction_preserves_lines_and_removes_generations(self, tmp_path):
        import hashlib

        from tectonic_spark.operators.cdxj import (
            cluster_entries_by_file,
            compact_zipnum,
            fetch_member,
            incremental_zipnum_update,
            parse_cluster_idx,
        )

        base = self._base_index(tmp_path)
        feb = self._mk_lines(range(0, 300, 5), ts="20240201000000",
                             digest_tag="F")
        incremental_zipnum_update(str(tmp_path), feb, block_lines=32)
        stats = compact_zipnum(str(tmp_path), block_lines=32)
        assert stats["n_files_before"] == 2
        assert stats["n_lines"] == len(base) + len(feb)
        assert not (tmp_path / "delta-001.zipnum.gz").exists()
        entries = parse_cluster_idx((tmp_path / "cluster.idx").read_bytes())
        by_file = cluster_entries_by_file(entries)
        assert set(by_file) == {"index.zipnum.gz"}
        # every line present exactly once, globally sorted
        got = []
        with open(tmp_path / "index.zipnum.gz", "rb") as f:
            for e in by_file["index.zipnum.gz"]:
                got.extend(
                    fetch_member(f, e["offset"], e["length"])
                    .decode()
                    .splitlines()
                )
        assert got == sorted(base + feb)
        # idempotent: compacting a compacted index is a no-op rewrite
        h = hashlib.sha256((tmp_path / "index.zipnum.gz").read_bytes()).hexdigest()
        stats2 = compact_zipnum(str(tmp_path), block_lines=32)
        assert stats2["n_lines"] == stats["n_lines"]
        assert hashlib.sha256(
            (tmp_path / "index.zipnum.gz").read_bytes()
        ).hexdigest() == h


class TestRetention(TestIncrementalUpdate):
    def _live(self, tmp_path):
        from tectonic_spark.operators.cdxj import incremental_zipnum_update

        self._base_index(tmp_path)  # 300 Jan captures
        feb = self._mk_lines(range(0, 300, 5), ts="20240201000000",
                             digest_tag="F")
        incremental_zipnum_update(str(tmp_path), feb, block_lines=32)

    def test_expiry_keeps_latest_per_key(self, tmp_path):
        import gzip

        from tectonic_spark.operators.cdxj import (
            cluster_entries_by_file,
            fetch_member,
            parse_cluster_idx,
            retain_zipnum,
        )

        self._live(tmp_path)
        stats = retain_zipnum(str(tmp_path), cutoff_ts="20240201000000",
                              block_lines=32)
        # Jan captures of the 60 recaptured keys expire; the other 240
        # Jan captures are each their key's latest -> retained
        assert stats["n_before"] == 360
        assert stats["n_expired"] == 60
        assert stats["n_retained"] == 300
        assert stats["n_files_before"] == 2
        # one block file remains, and it holds exactly the retained set
        with open(tmp_path / "cluster.idx", "rb") as f:
            by_file = cluster_entries_by_file(parse_cluster_idx(f.read()))
        assert set(by_file) == {"index.zipnum.gz"}
        lines = []
        with open(tmp_path / "index.zipnum.gz", "rb") as f:
            for e in by_file["index.zipnum.gz"]:
                lines += fetch_member(
                    f, e["offset"], e["length"]
                ).decode().splitlines()
        assert len(lines) == 300
        keys = {}
        for ln in lines:
            k, ts, _ = ln.split(" ", 2)
            keys.setdefault(k, []).append(ts)
        # every key survives; recaptured keys hold ONLY the Feb capture
        assert len(keys) == 300
        for i in range(0, 300, 5):
            host = ("a", "b", "c")[i % 3]
            assert keys[f"example,{host})/doc/{i:05d}"] == [
                "20240201000000"
            ]
        # audit sidecar carries the 60 expired Jan lines, sorted
        expired = gzip.decompress(
            (tmp_path / "expired.cdxj.gz").read_bytes()
        ).decode().splitlines()
        assert len(expired) == 60
        assert expired == sorted(expired)
        assert all(" 20240101000000 " in ln for ln in expired)
        # delta generation file is gone
        assert not (tmp_path / "delta-001.zipnum.gz").exists()

    def test_cutoff_before_everything_is_noop(self, tmp_path):
        from tectonic_spark.operators.cdxj import retain_zipnum

        self._live(tmp_path)
        stats = retain_zipnum(str(tmp_path), cutoff_ts="20240101000000",
                              block_lines=32)
        assert stats["n_expired"] == 0 and stats["n_retained"] == 360

    def test_future_cutoff_still_keeps_latest(self, tmp_path):
        from tectonic_spark.operators.cdxj import retain_zipnum

        self._live(tmp_path)
        stats = retain_zipnum(str(tmp_path), cutoff_ts="20990101000000",
                              block_lines=32)
        # every key keeps exactly its latest capture, nothing else
        assert stats["n_retained"] == 300 and stats["n_expired"] == 60

    def test_retained_lines_byte_identical(self, tmp_path):
        from tectonic_spark.operators.cdxj import (
            cluster_entries_by_file,
            fetch_member,
            parse_cluster_idx,
            retain_zipnum,
        )

        self._live(tmp_path)
        # snapshot all lines pre-retention
        with open(tmp_path / "cluster.idx", "rb") as f:
            by_file = cluster_entries_by_file(parse_cluster_idx(f.read()))
        pre = []
        for fname, blocks in by_file.items():
            with open(tmp_path / fname, "rb") as f:
                for e in blocks:
                    pre += fetch_member(
                        f, e["offset"], e["length"]
                    ).decode().splitlines()
        retain_zipnum(str(tmp_path), cutoff_ts="20240201000000",
                      block_lines=32)
        with open(tmp_path / "cluster.idx", "rb") as f:
            by_file = cluster_entries_by_file(parse_cluster_idx(f.read()))
        post = []
        with open(tmp_path / "index.zipnum.gz", "rb") as f:
            for e in by_file["index.zipnum.gz"]:
                post += fetch_member(
                    f, e["offset"], e["length"]
                ).decode().splitlines()
        assert set(post) <= set(pre)  # never edits a surviving line

    def test_expired_sidecar_is_reproducible(self, tmp_path, monkeypatch):
        # two runs over the same input, a minute apart, write the same bytes:
        # the gzip header carries no timestamp
        import time

        from tectonic_spark.operators.cdxj import retain_zipnum

        sidecars = []
        for run, clock in enumerate((1_700_000_000.0, 1_700_000_060.0)):
            index_dir = tmp_path / f"run{run}"
            index_dir.mkdir()
            self._live(index_dir)
            monkeypatch.setattr(time, "time", lambda clock=clock: clock)
            retain_zipnum(str(index_dir), cutoff_ts="20240201000000", block_lines=32)
            monkeypatch.undo()
            sidecars.append((index_dir / "expired.cdxj.gz").read_bytes())
        assert sidecars[0] == sidecars[1]

    def test_bad_cutoff_rejected(self, tmp_path):
        from tectonic_spark.operators.cdxj import retain_zipnum

        self._live(tmp_path)
        with pytest.raises(ValueError, match="cutoff"):
            retain_zipnum(str(tmp_path), cutoff_ts="2024-02-01")


class TestCdx11Interchange:
    def _lines(self, n=40):
        from tectonic_spark.operators.cdxj import build_cdxj

        entries = [
            {"url": f"https://{h}.example/doc/{i:05d}",
             "ts": "20240115083000", "digest": f"D{i:05d}",
             "mime": "text/html", "status": 200,
             "filename": "crawl-000.warc.gz", "offset": i * 100,
             "length": 90}
            for i, h in enumerate(("a", "b", "c") * (n // 3 + 1))
        ][:n]
        return build_cdxj(entries).decode().splitlines()

    def test_round_trip_byte_exact(self):
        from tectonic_spark.operators.cdxj import (
            cdx11_to_cdxj,
            cdxj_to_cdx11,
        )

        lines = self._lines()
        assert cdx11_to_cdxj(cdxj_to_cdx11(lines)) == lines

    def test_header_and_field_layout(self):
        from tectonic_spark.operators.cdxj import CDX11_HEADER, cdxj_to_cdx11

        cdx = cdxj_to_cdx11(self._lines(3)).splitlines()
        assert cdx[0] == CDX11_HEADER == " CDX N b a m s k r M S V g"
        assert all(len(ln.split(" ")) == 11 for ln in cdx[1:])

    def test_missing_optional_fields_dash(self):
        from tectonic_spark.operators.cdxj import (
            cdx11_to_cdxj,
            cdxj_to_cdx11,
        )

        import json

        line = "example,a)/x 20240101000000 " + json.dumps(
            {"digest": "D1", "filename": "f.warc.gz", "length": 9,
             "offset": 0, "url": "https://a.example/x"},
            sort_keys=True,
        )
        cdx = cdxj_to_cdx11([line])
        rec = cdx.splitlines()[1].split(" ")
        assert rec[3] == "-" and rec[4] == "-"  # mime, status
        assert cdx11_to_cdxj(cdx) == [line]

    def test_space_in_field_rejected(self):
        from tectonic_spark.operators.cdxj import cdxj_to_cdx11

        line = ('example,a)/x 20240101000000 {"digest":"D1",'
                '"filename":"my file.warc.gz","length":9,"offset":0,'
                '"url":"https://a.example/x"}')
        with pytest.raises(ValueError, match="space-delimited"):
            cdxj_to_cdx11([line])

    def test_taxonomy(self):
        from tectonic_spark.operators.cdxj import (
            cdx11_to_cdxj,
            cdxj_to_cdx11,
        )

        cdx = cdxj_to_cdx11(self._lines(2))
        with pytest.raises(ValueError, match="header"):
            cdx11_to_cdxj("not a header\n")
        with pytest.raises(ValueError, match="empty"):
            cdx11_to_cdxj("")
        body = cdx.splitlines()
        with pytest.raises(ValueError, match="fields"):
            cdx11_to_cdxj("\n".join([body[0], body[1] + " extra"]) + "\n")
        parts = body[1].split(" ")
        parts[1] = "2024-01-15"
        with pytest.raises(ValueError, match="timestamp"):
            cdx11_to_cdxj("\n".join([body[0], " ".join(parts)]) + "\n")


class TestTombstones(TestIncrementalUpdate):
    def test_tombstoned_lines_never_resurrect(self, tmp_path):
        import gzip

        from tectonic_spark.operators.cdxj import (
            incremental_zipnum_update,
            retain_zipnum,
        )

        self._base_index(tmp_path)
        feb = self._mk_lines(range(0, 300, 5), ts="20240201000000",
                             digest_tag="F")
        incremental_zipnum_update(str(tmp_path), feb, block_lines=32)
        retain_zipnum(str(tmp_path), cutoff_ts="20240201000000",
                      block_lines=32)
        import json

        expired_lines = gzip.decompress(
            (tmp_path / "expired.cdxj.gz").read_bytes()
        ).decode().splitlines()
        tombs = set()
        for ln in expired_lines:
            key, ts, blob = ln.split(" ", 2)
            tombs.add((key, ts, json.loads(blob)["digest"]))
        assert len(tombs) == 60
        # a late export re-delivers the EXPIRED Jan captures (from a
        # DIFFERENT collection: same key/ts/digest, other member
        # locations — the identity dedup and tombstones share) + 10
        # fresh March captures; without tombstones the Jan captures
        # would re-append (dedup can't see expired lines)
        redelivered = [
            ln.replace('"crawl.warc.gz"', '"other.warc.gz"')
            for ln in expired_lines
        ]
        late = sorted(
            redelivered + self._mk_lines(range(1, 11),
                                         ts="20240301000000",
                                         digest_tag="M")
        )
        stats = incremental_zipnum_update(
            str(tmp_path), late, generation=2, block_lines=32,
            tombstones=tombs,
        )
        assert stats["n_delta"] == 70
        assert stats["n_tombstoned"] == 60
        assert stats["n_dropped"] == 0
        assert stats["n_appended"] == 10

    def test_without_tombstones_the_hole_is_real(self, tmp_path):
        import gzip

        from tectonic_spark.operators.cdxj import (
            incremental_zipnum_update,
            retain_zipnum,
        )

        self._base_index(tmp_path)
        feb = self._mk_lines(range(0, 300, 5), ts="20240201000000",
                             digest_tag="F")
        incremental_zipnum_update(str(tmp_path), feb, block_lines=32)
        retain_zipnum(str(tmp_path), cutoff_ts="20240201000000",
                      block_lines=32)
        tombs = sorted(
            gzip.decompress((tmp_path / "expired.cdxj.gz").read_bytes())
            .decode().splitlines()
        )
        stats = incremental_zipnum_update(
            str(tmp_path), tombs, generation=2, block_lines=32
        )
        # dedup alone waves every expired line back in — the
        # documented hole the tombstones parameter exists to close
        assert stats["n_appended"] == 60
