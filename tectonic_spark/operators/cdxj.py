"""CDXJ capture indexing — the random-access tier of a WARC corpus.

A 100 TB crawl is useless for point lookups if every fetch re-scans
whole shards: the web-archive ecosystem (pywb / OpenWayback, and
Common Crawl's own index) answers "give me THESE URIs" through a CDXJ
index — one line per capture, sorted by a canonicalized URI key, whose
JSON block records the member's byte extent inside its shard. Because
Common Crawl-layout shards are one gzip member per record, a reader
can seek to ``offset``, read exactly ``length`` bytes, and inflate a
single record without touching the rest of the shard.

Line grammar (the pywb CDXJ profile):

    <SURT key> <14-digit timestamp> <JSON>

* **SURT** (Sort-friendly URI Reordering Transform): scheme dropped,
  host lowercased, leading ``www.`` stripped, host labels reversed and
  comma-joined, ``)/`` separator, path as-is, query parameters sorted —
  so all captures of a host cluster lexicographically and the file is
  binary-searchable. Ports and userinfo are dropped (a documented
  simplification; the fixture URIs never carry them).
* **timestamp**: WARC-Date ``YYYY-MM-DDThh:mm:ssZ`` → ``YYYYMMDDhhmmss``.
* **JSON fields**: ``url`` (original URI), ``digest`` (sha1, base32 —
  the WARC-Payload-Digest convention, here over the record payload,
  i.e. the full HTTP message), ``mime``, ``status``, ``filename``
  (shard basename), ``offset`` / ``length`` (gzip member byte extent).

Error taxonomy matches the family: ``EOFError`` truncation,
``ValueError`` structural.

100 TB shape: the index is tiny (one short line per capture) next to
the shards; selective fetch becomes an index scan + ranged reads whose
total byte count is the sum of the selected members' ``length`` — the
plan never touches unselected bytes.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import zlib
from collections.abc import Iterator

__all__ = [
    "block_extents",
    "build_cdxj",
    "build_cluster_idx",
    "candidate_blocks",
    "cluster_entries_by_file",
    "compact_zipnum",
    "fetch_member",
    "file_block_keys",
    "incremental_zipnum_update",
    "index_blocks",
    "index_lines",
    "multi_zipnum_blocks",
    "parse_cdxj",
    "parse_cluster_idx",
    "read_blocks",
    "shard_members",
    "surt",
    "warc_timestamp",
    "write_warc_indexed",
    "write_zipnum",
    "zipnum_block_range",
]


def surt(uri: str) -> str:
    """Sort-friendly URI Reordering Transform of ``uri``."""
    rest = uri.split("://", 1)[1] if "://" in uri else uri
    host, _, path = rest.partition("/")
    host = host.lower().rsplit("@", 1)[-1].split(":", 1)[0]
    if host.startswith("www."):
        host = host[4:]
    key = ",".join(reversed(host.split("."))) + ")/"
    if "?" in path:
        p, _, q = path.partition("?")
        params = sorted(q.split("&"))
        return key + p + "?" + "&".join(params)
    return key + path


def warc_timestamp(date: str) -> str:
    """WARC-Date (``YYYY-MM-DDThh:mm:ssZ``) → CDX 14-digit timestamp."""
    digits = "".join(c for c in date if c.isdigit())
    if len(digits) < 14:
        raise ValueError(f"bad WARC-Date {date!r}")
    return digits[:14]


def payload_digest(payload: bytes) -> str:
    """``sha1:<base32>`` of a record payload (the WARC-Payload-Digest
    convention CDX indexes carry)."""
    return "sha1:" + base64.b32encode(hashlib.sha1(payload).digest()).decode()


def write_warc_indexed(
    records: list[tuple[bytes, dict | None]],
) -> tuple[bytes, list[dict]]:
    """Member-per-record gzip serialization that RECORDS each member's
    byte extent: ``records`` is ``(record_bytes, meta | None)``; every
    non-None meta is returned augmented with ``offset``/``length`` (the
    compressed member's position in the shard) — exactly what a CDXJ
    line needs for a later ranged read. None-meta records (warcinfo,
    requests) are written but not indexed."""
    out = bytearray()
    entries: list[dict] = []
    for rec, meta in records:
        off = len(out)
        co = zlib.compressobj(6, zlib.DEFLATED, 31)
        out += co.compress(rec) + co.flush()
        if meta is not None:
            e = dict(meta)
            e["offset"] = off
            e["length"] = len(out) - off
            entries.append(e)
    return bytes(out), entries


def build_cdxj(entries: list[dict]) -> bytes:
    """Serialize index entries as sorted CDXJ lines. Each entry needs
    ``url`` and ``ts`` plus the JSON payload fields; lines sort by
    (SURT key, timestamp) so the file is mergeable and binary-
    searchable across shards."""
    lines = []
    for e in entries:
        key = surt(e["url"])
        ts = e["ts"]
        payload = {k: v for k, v in e.items() if k != "ts"}
        lines.append(
            f"{key} {ts} " + json.dumps(payload, sort_keys=True, ensure_ascii=False)
        )
    return ("\n".join(sorted(lines)) + "\n").encode("utf-8")


def parse_cdxj(data: bytes) -> list[dict]:
    """CDXJ lines → entry dicts (``key``/``ts`` + the JSON fields)."""
    out = []
    for ln in data.decode("utf-8").splitlines():
        if not ln:
            continue
        try:
            key, ts, blob = ln.split(" ", 2)
        except ValueError:
            raise ValueError(f"malformed CDXJ line {ln[:60]!r}") from None
        if not (len(ts) == 14 and ts.isdigit()):
            raise ValueError(f"bad CDXJ timestamp {ts!r}")
        e = json.loads(blob)
        e["key"] = key
        e["ts"] = ts
        out.append(e)
    return out


# ---------------------------------------------------------------------------
# zipnum: the two-level compressed index (Common Crawl's cluster.idx
# shape) — CDXJ lines grouped into gzip-member blocks, plus a tiny
# plain-text secondary index of (first key, offset, length) per block,
# so a lookup touches ONE small file end-to-end plus the exact blocks
# its keys land in. At 100 TB the flat CDXJ is itself tens of GB; this
# is the tier that keeps point lookups O(blocks touched).
# ---------------------------------------------------------------------------


def write_zipnum(lines: list[str], *, block_lines: int = 64) -> tuple[bytes, list[dict]]:
    """SORTED CDXJ lines → (blob, cluster entries): every ``block_lines``
    lines become one independent gzip member; each entry records the
    block's first SURT key and byte extent — exactly what cluster.idx
    needs. Raises if the lines are not sorted (an unsorted zipnum is
    silently unsearchable)."""
    if any(lines[i] > lines[i + 1] for i in range(len(lines) - 1)):
        raise ValueError("zipnum input lines must be sorted")
    out = bytearray()
    entries: list[dict] = []
    for i in range(0, len(lines), block_lines):
        block = ("\n".join(lines[i : i + block_lines]) + "\n").encode("utf-8")
        off = len(out)
        co = zlib.compressobj(6, zlib.DEFLATED, 31)
        out += co.compress(block) + co.flush()
        entries.append(
            {
                "key": lines[i].split(" ", 1)[0],
                "offset": off,
                "length": len(out) - off,
            }
        )
    return bytes(out), entries


def build_cluster_idx(entries: list[dict], filename: str) -> bytes:
    """Cluster entries → the tab-separated secondary index
    (``key<TAB>filename<TAB>offset<TAB>length`` per block, in order)."""
    return (
        "\n".join(
            f"{e['key']}\t{filename}\t{e['offset']}\t{e['length']}"
            for e in entries
        )
        + "\n"
    ).encode("utf-8")


def parse_cluster_idx(data: bytes) -> list[dict]:
    out = []
    for ln in data.decode("utf-8").splitlines():
        if not ln:
            continue
        parts = ln.split("\t")
        if len(parts) != 4:
            raise ValueError(f"malformed cluster.idx line {ln[:60]!r}")
        out.append(
            {
                "key": parts[0],
                "filename": parts[1],
                "offset": int(parts[2]),
                "length": int(parts[3]),
            }
        )
    return out


def zipnum_block_range(block_keys: list[str], key: str) -> tuple[int, int]:
    """The [lo, hi) block indices that can hold ``key`` given each
    block's FIRST key (blocks partition the sorted line space): binary
    search — the block whose first key precedes-or-equals the target,
    extended right across any run of blocks starting with the same key
    (an equal key can span block boundaries)."""
    import bisect

    hi = bisect.bisect_right(block_keys, key)
    if hi == 0:
        return 0, 0  # key sorts before every block
    # equal keys can START in the block before the first block whose
    # first key equals the target (the run spills backward), so lo is
    # one left of bisect_left, never just bisect_right-1
    lo = max(0, bisect.bisect_left(block_keys, key) - 1)
    return lo, hi


def fetch_member(f, offset: int, length: int) -> bytes:
    """Ranged read of ONE indexed gzip member from an open binary file:
    seek, read exactly ``length`` bytes, inflate. The caller never pays
    for bytes outside the member — the whole point of the index."""
    f.seek(offset)
    blob = f.read(length)
    if len(blob) < length:
        raise EOFError(
            f"shard truncated: wanted {length} bytes at {offset}, got {len(blob)}"
        )
    d = zlib.decompressobj(31)
    try:
        rec = d.decompress(blob)
    except zlib.error as e:
        raise ValueError(f"bad gzip member at offset {offset}: {e}") from None
    if not d.eof:
        raise EOFError(f"indexed member at {offset} incomplete after {length} bytes")
    if d.unused_data:
        raise ValueError(
            f"indexed length {length} overshoots member at offset {offset}"
        )
    return rec


def cluster_entries_by_file(entries: list[dict]) -> dict[str, list[dict]]:
    """Group a (possibly multi-file) cluster.idx into per-file block
    lists in file order (offset order) — the unit the zipnum ladder
    binary-searches. A merged index's block key ranges may overlap
    ACROSS files but never within one, so lookups run the a36 ladder
    once per file (<= 2 blocks each), never over the merged list."""
    by_file: dict[str, list[dict]] = {}
    for e in entries:
        by_file.setdefault(e["filename"], []).append(e)
    for blocks in by_file.values():
        blocks.sort(key=lambda e: e["offset"])
        keys = [e["key"] for e in blocks]
        if any(keys[i] > keys[i + 1] for i in range(len(keys) - 1)):
            raise ValueError("cluster.idx blocks unsorted within a file")
    return by_file


def file_block_keys(by_file: dict[str, list[dict]]) -> dict[str, list[str]]:
    """Per-file first-key lists for ``multi_zipnum_blocks`` — compute
    ONCE per lookup batch: rebuilding them per probed key turns an
    O(log blocks) bisect into an O(blocks) scan (measured 64 s of a
    79 s x100 update before this existed)."""
    return {f: [e["key"] for e in blocks] for f, blocks in by_file.items()}


def multi_zipnum_blocks(
    by_file: dict[str, list[dict]],
    key: str,
    keys_by_file: dict[str, list[str]] | None = None,
) -> list[dict]:
    """Candidate blocks for ``key`` across every block file of a
    merged index: per-file ``zipnum_block_range`` (<= 2 blocks per
    file for point keys). Pass ``keys_by_file`` (``file_block_keys``)
    when probing many keys against the same index."""
    out: list[dict] = []
    for fname, blocks in by_file.items():
        keys = (
            keys_by_file[fname]
            if keys_by_file is not None
            else [e["key"] for e in blocks]
        )
        lo, hi = zipnum_block_range(keys, key)
        out.extend(blocks[lo:hi])
    return out


def candidate_blocks(
    by_file: dict[str, list[dict]], keys
) -> list[tuple[str, int, int]]:
    """The distinct ``(filename, offset, length)`` blocks that can hold
    any of ``keys``, sorted: ``multi_zipnum_blocks`` per key (<= 2 blocks
    per file for point keys), with the first-key lists built once."""
    keys_by_file = file_block_keys(by_file)
    return sorted(
        {
            (e["filename"], e["offset"], e["length"])
            for key in keys
            for e in multi_zipnum_blocks(by_file, key, keys_by_file)
        }
    )


# ---------------------------------------------------------------------------
# the one read path: every reader of a zipnum index or of the WARC members
# it locates goes through these, so ranged reads happen only in this module
# ---------------------------------------------------------------------------


def index_blocks(index_dir: str) -> dict[str, list[dict]]:
    """The cluster.idx of the zipnum index at ``index_dir``, grouped per
    block file (``cluster_entries_by_file``). A single-file index is a
    one-entry map."""
    with open(os.path.join(index_dir, "cluster.idx"), "rb") as f:
        return cluster_entries_by_file(parse_cluster_idx(f.read()))


def block_extents(by_file: dict[str, list[dict]]) -> list[tuple[str, int, int]]:
    """Every block of ``by_file`` as ``(filename, offset, length)``: files
    in map order, each file's blocks in offset order."""
    return [
        (fname, e["offset"], e["length"])
        for fname, blocks in by_file.items()
        for e in blocks
    ]


def read_blocks(index_dir: str, extents) -> Iterator[tuple[str, list[str]]]:
    """Ranged-read and inflate each ``(filename, offset, length)`` block of
    the zipnum index at ``index_dir``, in the given order, yielding
    ``(filename, lines)`` per block. Each block file opens once."""
    handles: dict = {}
    try:
        for fname, offset, length in extents:
            f = handles.get(fname)
            if f is None:
                f = handles[fname] = open(os.path.join(index_dir, fname), "rb")
            block = fetch_member(f, int(offset), int(length))
            yield fname, block.decode("utf-8").splitlines()
    finally:
        for f in handles.values():
            f.close()


def index_lines(index_dir: str) -> list[str]:
    """Every CDXJ line of the single- or multi-file zipnum index at
    ``index_dir``: block files in the order cluster.idx first names them,
    each file's blocks in offset order."""
    extents = block_extents(index_blocks(index_dir))
    return [ln for _f, lines in read_blocks(index_dir, extents) for ln in lines]


def shard_members(rows, shard_path) -> Iterator[tuple[object, bytes]]:
    """Ranged-read the WARC member each row locates (``filename``,
    ``offset`` and ``length`` attributes, e.g. pandas ``itertuples``
    rows), yielding ``(row, member)``. Rows are grouped by
    ``shard_path(row)``; each shard opens once and is read in ascending
    offset order."""
    by_shard: dict[str, list] = {}
    for r in rows:
        by_shard.setdefault(shard_path(r), []).append(r)
    for path, items in by_shard.items():
        items.sort(key=lambda r: r.offset)
        with open(path, "rb") as f:
            for r in items:
                yield r, fetch_member(f, int(r.offset), int(r.length))


def incremental_zipnum_update(
    index_dir: str,
    delta_lines: list[str],
    *,
    generation: int = 1,
    block_lines: int = 64,
    tombstones: set[tuple[str, str, str]] | None = None,
) -> dict:
    """Append a new crawl's CDXJ lines to an existing zipnum index
    WITHOUT rewriting it (the write side of wayback collection
    maintenance; the read side is the a43 merge): the existing block
    file(s) are never touched — the delta's surviving lines become new
    gzip member blocks in ``delta-{generation:03d}.zipnum.gz`` and
    cluster.idx is rewritten (it is the tiny always-resident tier) to
    cover both files.

    Dedup is keep-first against the EXISTING collection: a delta line
    whose ``(key, ts, digest)`` triple already exists is dropped — the
    original capture's location stays authoritative (re-ingesting an
    overlapping export must not re-point members). The existence check
    is itself index-served: only the candidate blocks of each delta
    key are ranged-read (bytes accounted in the returned stats), never
    the whole index — at 100 TB the index is GBs and the delta is the
    small side.

    ``tombstones`` (the ``(key, ts, digest)`` triples of lines expired
    by ``retain_zipnum``, read from its audit sidecars) closes the
    resurrection hole retention opens: a delta line whose capture
    identity matches a tombstone is dropped BEFORE the index-served
    dedup — once a capture has been expired by policy, a
    late-arriving export overlapping it must not re-append it (the
    index no longer holds the line, so dedup alone would wave it
    through). The identity is the SAME triple dedup uses — two
    collections index one capture with different member locations,
    so byte-matching lines would miss real duplicates. Counted
    separately as ``n_tombstoned``.

    Returns ``{"delta_file", "n_delta", "n_dropped", "n_tombstoned",
    "n_appended", "n_new_blocks", "dedup_blocks_read",
    "dedup_bytes_read"}``.
    Raises ``ValueError`` on unsorted delta lines or a malformed
    existing index; raises ``FileExistsError`` if this generation's
    delta file already exists (an update must be explicit, never an
    overwrite)."""
    if any(
        delta_lines[i] > delta_lines[i + 1]
        for i in range(len(delta_lines) - 1)
    ):
        raise ValueError("delta lines must be sorted")
    n_raw = len(delta_lines)
    n_tombstoned = 0
    if tombstones:
        survivors = []
        for ln in delta_lines:
            key, ts, blob = ln.split(" ", 2)
            if (key, ts, json.loads(blob)["digest"]) in tombstones:
                n_tombstoned += 1
            else:
                survivors.append(ln)
        delta_lines = survivors
    delta_file = f"delta-{generation:03d}.zipnum.gz"
    delta_path = os.path.join(index_dir, delta_file)
    if os.path.exists(delta_path):
        raise FileExistsError(f"{delta_file} already exists in {index_dir}")
    with open(os.path.join(index_dir, "cluster.idx"), "rb") as f:
        entries = parse_cluster_idx(f.read())
    by_file = cluster_entries_by_file(entries)

    # --- index-served dedup: ranged-read only candidate blocks ---
    needed = candidate_blocks(
        by_file, (ln.split(" ", 1)[0] for ln in delta_lines)
    )
    existing: set[tuple[str, str, str]] = set()
    for _fname, lines in read_blocks(index_dir, needed):
        for ln in lines:
            key, ts, blob = ln.split(" ", 2)
            existing.add((key, ts, json.loads(blob)["digest"]))
    bytes_read = sum(length for _f, _o, length in needed)

    kept: list[str] = []
    for ln in delta_lines:
        key, ts, blob = ln.split(" ", 2)
        if (key, ts, json.loads(blob)["digest"]) not in existing:
            kept.append(ln)

    # --- new blocks + merged cluster.idx; existing files untouched ---
    new_entries: list[dict] = []
    if kept:
        zblob, zentries = write_zipnum(kept, block_lines=block_lines)
        tmp = delta_path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(zblob)
        os.rename(tmp, delta_path)
        for e in zentries:
            new_entries.append(dict(e, filename=delta_file))
    merged = sorted(
        [dict(e) for e in entries] + new_entries,
        key=lambda e: (e["key"], e["filename"], e["offset"]),
    )
    idx_blob = (
        "\n".join(
            f"{e['key']}\t{e['filename']}\t{e['offset']}\t{e['length']}"
            for e in merged
        )
        + "\n"
    ).encode("utf-8")
    tmp = os.path.join(index_dir, "cluster.idx.tmp")
    with open(tmp, "wb") as f:
        f.write(idx_blob)
    os.rename(tmp, os.path.join(index_dir, "cluster.idx"))
    return {
        "delta_file": delta_file,
        "n_delta": n_raw,
        "n_tombstoned": n_tombstoned,
        "n_dropped": len(delta_lines) - len(kept),
        "n_appended": len(kept),
        "n_new_blocks": len(new_entries),
        "dedup_blocks_read": len(needed),
        "dedup_bytes_read": bytes_read,
    }


def compact_zipnum(index_dir: str, *, block_lines: int = 64) -> dict:
    """Compact a multi-generation zipnum index back to ONE block file
    (the maintenance step that bounds generation sprawl: after N
    incremental updates every lookup pays N ladders, so a wayback
    deployment periodically rewrites). All generations' lines are
    merge-read, globally re-sorted, and written as a fresh
    ``index.zipnum.gz`` + cluster.idx; the old block files are removed
    only after the new index is fully in place (write-then-rename, so
    a crash leaves either the old or the new index, never neither).
    Compaction preserves every line byte-for-byte — dedup already
    happened at append time, and a compactor that edits lines is a
    corruption vector, so the caller-visible contract is
    ``lines_before == lines_after`` (returned for pinning).

    Returns ``{"n_lines", "n_files_before", "n_blocks_after",
    "bytes_before", "bytes_after"}``."""
    by_file = index_blocks(index_dir)
    lines = index_lines(index_dir)
    bytes_before = sum(length for _f, _o, length in block_extents(by_file))
    n_before = len(lines)
    lines.sort()
    zblob, zentries = write_zipnum(lines, block_lines=block_lines)
    tmp_z = os.path.join(index_dir, "index.zipnum.gz.compact")
    with open(tmp_z, "wb") as f:
        f.write(zblob)
    tmp_c = os.path.join(index_dir, "cluster.idx.compact")
    with open(tmp_c, "wb") as f:
        f.write(build_cluster_idx(zentries, "index.zipnum.gz"))
    old_files = [fn for fn in by_file if fn != "index.zipnum.gz"]
    os.rename(tmp_z, os.path.join(index_dir, "index.zipnum.gz"))
    os.rename(tmp_c, os.path.join(index_dir, "cluster.idx"))
    for fn in old_files:
        os.remove(os.path.join(index_dir, fn))
    return {
        "n_lines": n_before,
        "n_files_before": len(by_file),
        "n_blocks_after": len(zentries),
        "bytes_before": bytes_before,
        "bytes_after": len(zblob),
    }


def retain_zipnum(
    index_dir: str,
    *,
    cutoff_ts: str,
    block_lines: int = 64,
) -> dict:
    """Retention/expiry rewrite — the policy step of index
    maintenance (append = ``incremental_zipnum_update``, conflict
    surfacing = a45, compaction = ``compact_zipnum``; this is the
    deliberate-forgetting step real wayback deployments run): a
    capture EXPIRES when its timestamp is older than ``cutoff_ts``
    AND a newer capture of the same SURT key exists. The latest
    capture of every key is retained regardless of age — retention
    must never orphan a URL (a key that was ever indexed keeps at
    least its most recent capture), so lookups after retention still
    answer for every key, just with pruned history.

    All generations are merge-read (so retention composes with
    pending incremental updates), the expired lines are written
    FIRST to an audit sidecar ``expired.cdxj.gz`` (one gzip stream of
    the dropped lines, sorted — the census trail a deletion pass owes
    its operators), then the retained lines are rewritten as one
    fresh ``index.zipnum.gz`` + cluster.idx via write-then-rename
    (a crash leaves either the old or the new index, never neither);
    old generation files are removed last.

    Retained lines are preserved byte-for-byte (an expiry pass that
    edits surviving lines is a corruption vector). Returns
    ``{"n_before", "n_expired", "n_retained", "n_files_before",
    "n_blocks_after", "expired_file"}``."""
    import gzip as _gzip

    if not (len(cutoff_ts) == 14 and cutoff_ts.isdigit()):
        raise ValueError(f"bad cutoff timestamp {cutoff_ts!r}")
    by_file = index_blocks(index_dir)
    lines = sorted(index_lines(index_dir))
    latest: dict[str, str] = {}
    for ln in lines:
        key, ts, _rest = ln.split(" ", 2)
        if ts > latest.get(key, ""):
            latest[key] = ts
    retained: list[str] = []
    expired: list[str] = []
    for ln in lines:
        key, ts, _rest = ln.split(" ", 2)
        if ts < cutoff_ts and ts < latest[key]:
            expired.append(ln)
        else:
            retained.append(ln)
    expired_file = "expired.cdxj.gz"
    tmp_e = os.path.join(index_dir, expired_file + ".retain")
    with open(tmp_e, "wb") as f:
        # mtime=0: the sidecar's bytes depend on its lines alone
        f.write(_gzip.compress(("\n".join(expired) + "\n").encode("utf-8")
                               if expired else b"", mtime=0))
    zblob, zentries = write_zipnum(retained, block_lines=block_lines)
    tmp_z = os.path.join(index_dir, "index.zipnum.gz.retain")
    with open(tmp_z, "wb") as f:
        f.write(zblob)
    tmp_c = os.path.join(index_dir, "cluster.idx.retain")
    with open(tmp_c, "wb") as f:
        f.write(build_cluster_idx(zentries, "index.zipnum.gz"))
    old_files = [fn for fn in by_file if fn != "index.zipnum.gz"]
    os.rename(tmp_e, os.path.join(index_dir, expired_file))
    os.rename(tmp_z, os.path.join(index_dir, "index.zipnum.gz"))
    os.rename(tmp_c, os.path.join(index_dir, "cluster.idx"))
    for fn in old_files:
        os.remove(os.path.join(index_dir, fn))
    return {
        "n_before": len(lines),
        "n_expired": len(expired),
        "n_retained": len(retained),
        "n_files_before": len(by_file),
        "n_blocks_after": len(zentries),
        "expired_file": expired_file,
    }


# ---------------------------------------------------------------------------
# Classic CDX-11 interchange — the space-delimited, 11-field index
# format (" CDX N b a m s k r M S V g") that predates CDXJ and that
# wayback tooling still reads/writes. The field mapping to this
# engine's CDXJ lines: N=SURT key, b=timestamp, a=original url,
# m=mime, s=status, k=digest, r/M='-' (redirect/meta unused here),
# S=member length, V=member offset, g=WARC filename.

CDX11_HEADER = " CDX N b a m s k r M S V g"


def cdxj_to_cdx11(lines: list[str]) -> str:
    """Serialize CDXJ lines as a classic CDX-11 file (header + one
    space-delimited record per line, input order preserved — callers
    keep lines sorted, as zipnum blocks already are). Fields that
    would break the space-delimited framing raise ``ValueError``
    (CDX-11 cannot carry embedded spaces); a missing optional field
    writes the format's ``-`` placeholder."""
    out = [CDX11_HEADER]
    for ln in lines:
        key, ts, blob = ln.split(" ", 2)
        e = json.loads(blob)
        fields = [
            key, ts, str(e["url"]), str(e.get("mime", "-")),
            str(e.get("status", "-")), str(e["digest"]), "-", "-",
            str(e["length"]), str(e["offset"]), str(e["filename"]),
        ]
        for f in fields:
            if " " in f or not f:
                raise ValueError(
                    f"field {f!r} cannot ride space-delimited CDX-11"
                )
        out.append(" ".join(fields))
    return "\n".join(out) + "\n"


def cdx11_to_cdxj(text: str) -> list[str]:
    """Parse a classic CDX-11 file back into CDXJ lines. The header
    must declare exactly the 11-field layout this engine writes;
    records with a different field count are structural errors. The
    inverse mapping re-serializes the JSON payload with sorted keys —
    byte-identical to ``build_cdxj`` output for entries whose fields
    all fit CDX-11 (url/mime/status/digest/filename/offset/length)."""
    lines = text.splitlines()
    if not lines or lines[0] != CDX11_HEADER:
        raise ValueError(
            f"bad CDX header {lines[0][:40]!r}" if lines
            else "empty CDX file"
        )
    out = []
    for ln in lines[1:]:
        if not ln:
            continue
        parts = ln.split(" ")
        if len(parts) != 11:
            raise ValueError(
                f"CDX-11 record has {len(parts)} fields: {ln[:60]!r}"
            )
        key, ts, url, mime, status, digest, _r, _m, length, offset, fname = (
            parts
        )
        if not (len(ts) == 14 and ts.isdigit()):
            raise ValueError(f"bad CDX timestamp {ts!r}")
        payload: dict = {
            "url": url,
            "digest": digest,
            "filename": fname,
            "offset": int(offset),
            "length": int(length),
        }
        if mime != "-":
            payload["mime"] = mime
        if status != "-":
            payload["status"] = int(status)
        out.append(
            f"{key} {ts} "
            + json.dumps(payload, sort_keys=True, ensure_ascii=False)
        )
    return out
