"""LZ4 here vs the real LZ4 inside Spark's JVM (net.jpountz.lz4).

Two places read LZ4: HFile lz4 blocks (raw lz4 chunks inside Hadoop's
block framing, ``hfile_lite.hadoop_block_decompress``) and compressed
Puffin footers (one lz4 frame, ``puffin.read_puffin_footer``).  Both
decode through pyarrow's codecs.  They are cross-checked against
lz4-java, Spark's own shuffle/broadcast codec, in both directions where
this side writes, plus adversarial truncation/corruption cases.
"""

from __future__ import annotations

import json
import random
import struct

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from easy_sql_spark.sources.hfile_lite import (
    HFileError,
    hadoop_block_compress,
    hadoop_block_decompress,
)
from easy_sql_spark.sources.puffin import (
    MAGIC,
    PuffinError,
    encode_dv_blob,
    read_puffin_footer,
    write_puffin,
)


def _corpus():
    rng = random.Random(41)
    yield b""
    yield b"a"
    yield b"abcd" * 64
    yield bytes(rng.randrange(256) for _ in range(1000))  # incompressible
    yield b"\x00" * 100_000  # long overlap matches
    yield (b"the quick brown fox " * 500)[:7777]
    yield json.dumps(
        {"blobs": [{"type": "deletion-vector-v1", "offset": i} for i in range(200)]}
    ).encode()
    big = bytearray()
    for _ in range(2000):
        big += rng.choice([b"alpha", b"beta", b"gamma", b"delta-delta"])
        if rng.random() < 0.1:
            big += bytes(rng.randrange(256) for _ in range(rng.randrange(20)))
    yield bytes(big)  # > one 64KB block


# ------------------------------------------------------------ raw blocks


def _lz4_block(data: bytes) -> bytes:
    """pyarrow's raw lz4 block of ``data`` (the chunk hfile_lite writes)."""
    return pa.Codec("lz4_raw").compress(data, asbytes=True)


def _decode_block(block: bytes, size: int) -> bytes:
    """Decode one raw lz4 block the way HFile lz4 chunks decode: as the
    only chunk of a ``size``-byte Hadoop block."""
    framed = struct.pack(">ii", size, len(block)) + block
    return hadoop_block_decompress(framed, "lz4")


def test_block_roundtrip():
    for data in _corpus():
        if data:
            assert _decode_block(_lz4_block(data), len(data)) == data


def test_block_rejects_bad_offsets():
    with pytest.raises(HFileError):
        _decode_block(b"\x10A\x05\x00", 5)  # offset beyond output
    with pytest.raises(HFileError):
        _decode_block(b"\x10A\x00\x00", 5)  # offset zero
    with pytest.raises(HFileError):
        _decode_block(b"\xf0", 15)  # literal length runs off the block


@settings(max_examples=100, deadline=None)
@given(
    st.one_of(
        st.binary(min_size=1, max_size=5000),
        # repetitive payloads give long, overlapping, extended matches
        st.builds(
            lambda w, n, tail: w * n + tail,
            st.binary(min_size=1, max_size=12),
            st.integers(min_value=1, max_value=400),
            st.binary(max_size=50),
        ),
    )
)
def test_block_roundtrip_property(data):
    """The token walk that sizes each lz4 chunk sums exactly what the
    chunk decodes to."""
    assert _decode_block(_lz4_block(data), len(data)) == data


# ------------------------------------------------------------ footers


def _puffin_with_footer(frame: bytes) -> bytes:
    """A Puffin file whose footer payload is ``frame``, flagged lz4."""
    return (
        MAGIC
        + b"XXXXXXXXX"  # fake blob region
        + MAGIC
        + frame
        + struct.pack("<i", len(frame))
        + b"\x01\x00\x00\x00"
        + MAGIC
    )


def _footer_payload(data: bytes) -> bytes:
    """Footer JSON carrying arbitrary ``data`` (latin-1 in a property)."""
    return json.dumps(
        {"blobs": [], "properties": {"data": data.decode("latin-1")}}
    ).encode()


def _footer_data(footer: dict) -> bytes:
    return footer["properties"]["data"].encode("latin-1")


def _pa_frame(payload: bytes) -> bytes:
    """pyarrow's lz4 frame: independent blocks up to 64 KB of input."""
    return pa.Codec("lz4").compress(payload, asbytes=True)


def test_frame_rejects_corruption():
    frame = _pa_frame(_footer_payload(b"hello world " * 100))
    assert read_puffin_footer(_puffin_with_footer(frame))
    bad_frames = [
        frame[:10],  # truncated header
        frame[: len(frame) // 2],  # truncated block
        frame[:-2],  # truncated EndMark
        frame[:4] + b"\xff" + frame[5:],  # FLG: reserved bits, bad version
        frame[:-1] + b"\xff",  # EndMark -> bogus block size
        b"\x00" * 16,  # bad magic
    ]
    for bad in bad_frames:
        with pytest.raises(PuffinError):
            read_puffin_footer(_puffin_with_footer(bad))


def _lz4_length(n: int) -> bytes:
    """Bytes extending a token length nibble that reached 15."""
    if n < 15:
        return b""
    return b"\xff" * ((n - 15) // 255) + bytes([(n - 15) % 255])


def _lz4_sequence(literals: bytes, offset: int = 0, match: int = 0) -> bytes:
    """One lz4 sequence: literals, then a match unless ``offset`` is 0."""
    m = match - 4 if offset else 0
    out = bytes([(min(len(literals), 15) << 4) | min(m, 15)])
    out += _lz4_length(len(literals)) + literals
    if offset:
        out += struct.pack("<H", offset) + _lz4_length(m)
    return out


def test_puffin_footer_linked_block_frame():
    """A valid frame with LINKED blocks (FLG 0x40): block 2 copies 20
    bytes out of block 1.  Frame decoders must keep the previous block
    as history; a block-at-a-time decoder sees an offset outside its
    window."""
    value = b"0123456789abcdefghij"
    payload = (
        b'{"blobs": [], "properties": {"a": "' + value
        + b'", "b": "' + value + b'", "c": "the end of the footer"}}'
    )
    p1 = payload.index(value)
    split = p1 + len(value)  # block 1 ends after the first copy
    p2 = payload.index(value, split)
    block1 = payload[:split]
    block2 = _lz4_sequence(
        payload[split:p2], p2 - p1, len(value)  # reaches into block 1
    ) + _lz4_sequence(payload[p2 + len(value) :])  # literals only
    frame = (
        struct.pack("<I", 0x184D2204)
        # FLG 0x40: version 01, linked blocks; BD 0x40: 64 KB blocks;
        # 0xC0 = (xxh32(FLG BD) >> 8) & 0xFF, the header checksum
        + bytes([0x40, 0x40, 0xC0])
        + struct.pack("<I", 0x80000000 | len(block1))  # stored block
        + block1
        + struct.pack("<I", len(block2))
        + block2
        + struct.pack("<I", 0)  # EndMark
    )
    footer = read_puffin_footer(_puffin_with_footer(frame))
    assert footer["properties"]["b"] == value.decode()
    assert json.dumps(footer).encode() == payload


# ------------------------------------------------------------------- JVM


def _jvm_frame_compress(spark, data: bytes, block_size: str | None = None) -> bytes:
    jvm = spark.sparkContext._jvm
    lz4 = jvm.net.jpountz.lz4
    baos = jvm.java.io.ByteArrayOutputStream()
    if block_size is None:
        out = lz4.LZ4FrameOutputStream(baos)
    else:
        sizes = getattr(lz4, "LZ4FrameOutputStream$BLOCKSIZE")
        out = lz4.LZ4FrameOutputStream(baos, getattr(sizes, block_size))
    out.write(data)
    out.close()
    return bytes(baos.toByteArray())


def _jvm_frame_decompress(spark, data: bytes) -> bytes:
    jvm = spark.sparkContext._jvm
    bais = jvm.java.io.ByteArrayInputStream(data)
    inp = jvm.net.jpountz.lz4.LZ4FrameInputStream(bais)
    out = bytes(inp.readAllBytes())  # Java 9+; avoids py4j buffer copy-back
    inp.close()
    return out


def test_jvm_frames_decode_here(spark):
    for data in _corpus():
        frame = _jvm_frame_compress(spark, _footer_payload(data))
        footer = read_puffin_footer(_puffin_with_footer(frame))
        assert _footer_data(footer) == data


def test_frame_roundtrip_all_block_sizes(spark):
    """JVM frames at every block size, so long footers span many
    blocks, read back through the Puffin footer reader."""
    data = max(_corpus(), key=len)
    for size in ("SIZE_64KB", "SIZE_256KB", "SIZE_1MB", "SIZE_4MB"):
        frame = _jvm_frame_compress(spark, _footer_payload(data), size)
        footer = read_puffin_footer(_puffin_with_footer(frame))
        assert _footer_data(footer) == data


def test_our_frames_decode_in_jvm(spark):
    """The pyarrow frames these tests put in compressed footers are
    readable by lz4-java up to 64 KB of input.  Above that pyarrow links
    its blocks (FLG 0x40), which lz4-java refuses — the reason
    ``write_puffin`` writes no compressed footer."""
    for data in _corpus():
        if len(data) <= 64 * 1024:
            assert _jvm_frame_decompress(spark, _pa_frame(data)) == data
    linked = _pa_frame(b"\x00" * 100_000)
    assert linked[4] == 0x40
    with pytest.raises(Exception, match="Dependent block stream"):
        _jvm_frame_decompress(spark, linked)


def test_block_codec_matches_jvm_safe_decompressor(spark):
    jvm = spark.sparkContext._jvm
    factory = jvm.net.jpountz.lz4.LZ4Factory.fastestInstance()
    comp = factory.fastCompressor()
    dec = factory.safeDecompressor()
    for data in _corpus():
        if not data:
            continue
        # JVM compress -> decompress here
        assert _decode_block(bytes(comp.compress(data)), len(data)) == data
        # compress here -> JVM decompress
        ours = hadoop_block_compress(data, "lz4")[8:]  # the single chunk
        assert bytes(dec.decompress(ours, len(data))) == data


# ---------------------------------------------------------------- puffin


def test_puffin_compressed_footer_roundtrip():
    blob = encode_dv_blob([1, 5, 9, 1 << 33])
    data, metas = write_puffin(
        [("deletion-vector-v1", blob, {"referenced-data-file": "f.parquet"})]
    )
    plain = read_puffin_footer(data)
    assert not data[-8] & 0x01  # written uncompressed
    frame = _pa_frame(json.dumps(plain).encode())
    footer = read_puffin_footer(_puffin_with_footer(frame))
    assert footer == plain
    assert footer["blobs"][0]["type"] == "deletion-vector-v1"
    assert footer["blobs"][0]["offset"] == metas[0]["offset"]


def test_puffin_footer_compressed_by_jvm_lz4(spark):
    """A third-party writer that compresses the footer with the real
    lz4 frame codec (LZ4FrameOutputStream: FLG 0x60, independent
    blocks, no content size) must read here — the exact case the
    pre-r11 reader refused."""
    payload = json.dumps(
        {"blobs": [{"type": "deletion-vector-v1", "offset": 4, "length": 9}],
         "properties": {}}
    ).encode()
    comp = _jvm_frame_compress(spark, payload)
    assert comp[4] == 0x60
    footer = read_puffin_footer(_puffin_with_footer(comp))
    assert footer["blobs"][0]["length"] == 9


def test_puffin_corrupt_compressed_footer_raises():
    payload = json.dumps({"blobs": [], "properties": {}}).encode()
    data = bytearray(_puffin_with_footer(_pa_frame(payload)))
    # flip a byte of the frame magic inside the footer payload
    data[len(MAGIC) + 9 + len(MAGIC) + 2] ^= 0xFF
    with pytest.raises(PuffinError):
        read_puffin_footer(bytes(data))
