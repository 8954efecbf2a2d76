"""ID3 tag extraction — the metadata layer of MP3 audio, the audio
analog of EXIF (m21): crawl pipelines read title/artist/album and
embedded cover art before dedup and filtering.

Scope (all structural, spec-derivable from the public id3.org specs):

* **ID3v2.3 / v2.4 tag grammar**: 10-byte header ("ID3", version,
  flags, 28-bit syncsafe size), optional extended header, frames with
  4-char IDs (v2.3 plain big-endian sizes; v2.4 syncsafe sizes),
  per-frame flag bytes. v2.2 (3-char IDs, 3-byte sizes) parses
  read-only.
* **Unsynchronization** (ID3v2 §5): the FF 00 -> FF reversal, applied
  tag-wide (v2.3 global flag) or per-frame (v2.4 frame flag bit 1).
* **Text frames** (T***): encoding byte 0 = latin-1, 1 = utf-16 with
  BOM, 2 = utf-16-be, 3 = utf-8; NUL-terminated.
* **APIC** (attached picture): encoding + mime (latin-1, NUL) +
  picture type + description (encoded, NUL) + raw image bytes — the
  image payload routes to the engine's own codec family (PNG/JPEG),
  so album art participates in the multimodal surface.
* **ID3v1**: the fixed 128-byte "TAG" trailer (title/artist/album/
  year/comment/genre, space- or NUL-padded; v1.1 track in comment
  bytes 28/29).

``parse_mp3`` (codecs.py) SKIPS these tags to walk the audio frames;
this module parses what it skips. Error taxonomy matches the codec
family: ``EOFError`` truncation, ``ValueError`` structural.

Reference note: the reference engine has no audio/metadata surface —
north-star training-pipeline scope (SURVEY.md §2 multimodal family).
"""

from __future__ import annotations

__all__ = [
    "build_apic_frame",
    "build_id3v1",
    "build_id3v2",
    "build_text_frame",
    "parse_id3v1",
    "parse_id3v2",
]

_ENCODINGS = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}
_TERM = {0: b"\x00", 1: b"\x00\x00", 2: b"\x00\x00", 3: b"\x00"}


def _syncsafe(n: int) -> bytes:
    if not 0 <= n < 1 << 28:
        raise ValueError(f"size {n} out of syncsafe range")
    return bytes((n >> s) & 0x7F for s in (21, 14, 7, 0))


def _unsyncsafe(b: bytes, what: str) -> int:
    if any(x & 0x80 for x in b):
        raise ValueError(f"{what}: non-syncsafe byte")
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def _unsync_apply(data: bytes) -> bytes:
    """Insert 00 after every FF (writer side)."""
    return data.replace(b"\xff", b"\xff\x00")


def _unsync_remove(data: bytes) -> bytes:
    return data.replace(b"\xff\x00", b"\xff")


# ---------------------------------------------------------------------------
# writer (fixture side)
# ---------------------------------------------------------------------------


def build_text_frame(fid: str, text: str, encoding: int = 3) -> tuple[str, bytes]:
    """A T*** text frame payload: encoding byte + encoded text + NUL."""
    if encoding not in _ENCODINGS:
        raise ValueError(f"unknown text encoding {encoding}")
    return fid, bytes([encoding]) + text.encode(_ENCODINGS[encoding]) + _TERM[encoding]


def build_apic_frame(
    image: bytes, mime: str, pic_type: int = 3, desc: str = ""
) -> tuple[str, bytes]:
    """An APIC payload (pic_type 3 = front cover); desc in latin-1."""
    return "APIC", (
        b"\x00"
        + mime.encode("latin-1")
        + b"\x00"
        + bytes([pic_type])
        + desc.encode("latin-1")
        + b"\x00"
        + image
    )


def build_id3v2(
    frames: list[tuple[str, bytes]], *, version: int = 4, unsync: bool = False
) -> bytes:
    """Serialize an ID3v2.3 or v2.4 tag from (frame_id, payload) pairs."""
    if version not in (3, 4):
        raise ValueError("only ID3v2.3 / v2.4 are written")
    body = bytearray()
    for fid, payload in frames:
        if len(fid) != 4:
            raise ValueError(f"bad frame id {fid!r}")
        if version == 4:
            size = _syncsafe(len(payload))
        else:
            size = len(payload).to_bytes(4, "big")
        body += fid.encode("ascii") + size + b"\x00\x00" + payload
    data = bytes(body)
    flags = 0
    if unsync:
        # v2.3 semantics: the unsync flag means the whole tag body is
        # unsynchronized (v2.4 writers set per-frame bits; we write the
        # tag-wide form, which v2.4 §6.1 still defines)
        data = _unsync_apply(data)
        flags |= 0x80
    return b"ID3" + bytes([version, 0, flags]) + _syncsafe(len(data)) + data


def build_id3v1(
    *,
    title: str = "",
    artist: str = "",
    album: str = "",
    year: str = "",
    comment: str = "",
    track: int | None = None,
    genre: int = 255,
) -> bytes:
    """The fixed 128-byte ID3v1 trailer (v1.1 when track is given)."""

    def pad(s: str, n: int) -> bytes:
        b = s.encode("latin-1")
        if len(b) > n:
            raise ValueError(f"field too long ({len(b)} > {n})")
        return b + b"\x00" * (n - len(b))

    out = b"TAG" + pad(title, 30) + pad(artist, 30) + pad(album, 30) + pad(year, 4)
    if track is None:
        out += pad(comment, 30)
    else:
        if not 0 < track < 256:
            raise ValueError("track out of range")
        out += pad(comment, 28) + b"\x00" + bytes([track])
    return out + bytes([genre])


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------


def _decode_text(payload: bytes, what: str) -> str:
    if not payload:
        raise EOFError(f"{what}: empty text frame")
    enc = payload[0]
    if enc not in _ENCODINGS:
        raise ValueError(f"{what}: unknown text encoding {enc}")
    raw = payload[1:]
    term = _TERM[enc]
    # strip ONE trailing terminator if present (16-bit aligned for UTF-16)
    if enc in (1, 2):
        if len(raw) >= 2 and raw[-2:] == term:
            raw = raw[:-2]
    elif raw.endswith(term):
        raw = raw[:-1]
    try:
        return raw.decode(_ENCODINGS[enc])
    except UnicodeDecodeError as e:
        raise ValueError(f"{what}: undecodable text ({e.reason})") from None


def _parse_apic(payload: bytes) -> dict:
    if not payload:
        raise EOFError("APIC: empty")
    enc = payload[0]
    if enc not in _ENCODINGS:
        raise ValueError(f"APIC: unknown text encoding {enc}")
    i = payload.find(b"\x00", 1)
    if i < 0:
        raise EOFError("APIC: unterminated mime type")
    mime = payload[1:i].decode("latin-1")
    if i + 1 >= len(payload):
        raise EOFError("APIC: truncated before picture type")
    pic_type = payload[i + 1]
    j = i + 2
    term = _TERM[enc]
    if enc in (1, 2):
        while j + 1 < len(payload) and payload[j : j + 2] != term:
            j += 2
        if j + 1 >= len(payload):
            raise EOFError("APIC: unterminated description")
        desc = payload[i + 2 : j].decode(_ENCODINGS[enc])
        j += 2
    else:
        k = payload.find(b"\x00", j)
        if k < 0:
            raise EOFError("APIC: unterminated description")
        desc = payload[j:k].decode(_ENCODINGS[enc])
        j = k + 1
    return {"mime": mime, "pic_type": pic_type, "desc": desc, "image": payload[j:]}


def parse_id3v2(data: bytes) -> dict:
    """Parse the leading ID3v2 tag: version, raw frames, decoded text
    frames (``text['TIT2']`` etc.), APIC pictures, and ``tag_size``
    (header + body — the offset where the audio starts)."""
    if data[:3] != b"ID3":
        raise ValueError("no ID3v2 tag")
    if len(data) < 10:
        raise EOFError("truncated ID3v2 header")
    version, rev, flags = data[3], data[4], data[5]
    if version not in (2, 3, 4):
        raise NotImplementedError(f"ID3v2.{version} is not parsed")
    size = _unsyncsafe(data[6:10], "ID3v2 size")
    if 10 + size > len(data):
        raise EOFError("truncated ID3v2 body")
    body = data[10 : 10 + size]
    if flags & 0x80:  # tag-wide unsynchronization
        body = _unsync_remove(body)
    if flags & 0x40:  # extended header: syncsafe/plain size, skip it
        if len(body) < 4:
            raise EOFError("truncated extended header")
        ext = (
            _unsyncsafe(body[:4], "ext header")
            if version == 4
            else int.from_bytes(body[:4], "big") + 4
        )
        if ext > len(body):
            raise EOFError("extended header overruns tag")
        body = body[ext:]

    id_len, sz_len = (3, 3) if version == 2 else (4, 4)
    frames: list[tuple[str, bytes]] = []
    text: dict[str, str] = {}
    pictures: list[dict] = []
    pos = 0
    while pos + id_len + sz_len <= len(body):
        if body[pos] == 0:  # padding reached
            break
        fid = body[pos : pos + id_len].decode("ascii", "replace")
        raw_sz = body[pos + id_len : pos + id_len + sz_len]
        if version == 4:
            fsz = _unsyncsafe(raw_sz, f"frame {fid} size")
        else:
            fsz = int.from_bytes(raw_sz, "big")
        pos += id_len + sz_len
        fflags = 0
        if version != 2:
            if pos + 2 > len(body):
                raise EOFError(f"frame {fid}: truncated flags")
            fflags = int.from_bytes(body[pos : pos + 2], "big")
            pos += 2
        if pos + fsz > len(body):
            raise EOFError(f"frame {fid}: payload overruns tag")
        payload = body[pos : pos + fsz]
        pos += fsz
        if version == 4 and fflags & 0x02:  # per-frame unsync
            payload = _unsync_remove(payload)
        frames.append((fid, payload))
        if fid.startswith("T") and len(fid) == 4:
            text[fid] = _decode_text(payload, fid)
        elif fid == "APIC":
            pictures.append(_parse_apic(payload))
    return {
        "version": version,
        "revision": rev,
        "tag_size": 10 + size,
        "frames": frames,
        "text": text,
        "pictures": pictures,
    }


def parse_id3v1(data: bytes) -> dict | None:
    """Parse the trailing 128-byte ID3v1 block, or None if absent."""
    if len(data) < 128 or data[-128:-125] != b"TAG":
        return None
    blk = data[-128:]

    def field(b: bytes) -> str:
        return b.split(b"\x00", 1)[0].decode("latin-1").rstrip()

    out = {
        "title": field(blk[3:33]),
        "artist": field(blk[33:63]),
        "album": field(blk[63:93]),
        "year": field(blk[93:97]),
        "genre": blk[127],
        "track": None,
    }
    if blk[125] == 0 and blk[126] != 0:  # v1.1 track marker
        out["track"] = blk[126]
        out["comment"] = field(blk[97:125])
    else:
        out["comment"] = field(blk[97:127])
    return out
