"""Avro corpus ingestion (SURVEY.md §2.1 S-family — the row-oriented
interchange format; completes the landing-zone set next to parquet,
JSONL, CSV and ORC).

This container ships neither the ``spark-avro`` connector jar nor any
Python avro package (VERDICT r7 work order #5 allowed a documented
skip in that case), but the Avro 1.x container format is a small,
public, frozen specification — so instead of skipping, both sides of
the cross-writer contract are implemented from the spec in pure
stdlib, the same discipline as the BMP/RIFF decoders in
``llm/multimodal.py``:

- the WRITER (driver-side, the "foreign writer" role pyarrow plays
  for ORC) emits spec-conformant object container files: magic
  ``Obj\\x01``, metadata map with the record schema JSON and the
  ``deflate`` codec (raw RFC-1951 via ``zlib``), 16-byte sync
  markers, multi-block bodies, zigzag-varint longs, length-prefixed
  UTF-8 strings, and ``["null", T]`` unions for every nullable
  column;
- the READER runs INSIDE Spark: ``binaryFile`` source → one
  ``mapInPandas`` decode over the container bytes, schema-driven (it
  parses the embedded writer schema and refuses loudly — the
  ``DecoderUnavailable`` contract — on any codec/type it doesn't
  implement, rather than mis-decoding).

Scale: parallelism is per container FILE (the fixture writes the
corpus as ``_N_PARTS`` part files, the standard many-part landing
layout; ``binaryFile`` caps single files at 2 GB and never splits,
which is the documented boundary — the scale path for multi-GB
monoliths is sync-marker splitting, same join shape, finer tasks).
The decode emits only the census-relevant columns (doc_id, lang,
source, the RECOMPUTED text length, n_chars) so the wide text column
never rides the Arrow boundary back out; the census itself is one
map-side-combining aggregation, |langs|·|sources| rows.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..session_cache import derived_fixture

_N_PARTS = 4
_ROWS_PER_BLOCK = 1000

# The record schema of the documents twin. Every field is a
# ["null", T] union: the adversarial sweep corpus carries NULL
# text/lang/source (and production JSONL ingest makes any field
# nullable), so the container must be able to say so.
_DOC_SCHEMA = {
    "type": "record",
    "name": "Document",
    "fields": [
        {"name": "doc_id", "type": ["null", "long"]},
        {"name": "text", "type": ["null", "string"]},
        {"name": "lang", "type": ["null", "string"]},
        {"name": "source", "type": ["null", "string"]},
        {"name": "n_chars", "type": ["null", "long"]},
    ],
}


class AvroFormatError(RuntimeError):
    """Loud-failure contract of the stdlib codec: raised for any
    container feature outside the implemented subset (unknown codec,
    non-record schema, a type branch the decoder doesn't cover) —
    mis-decoding silently is the one unacceptable outcome."""


# --- binary encoding (writer side) ----------------------------------

def _enc_long(n: int) -> bytes:
    """Avro long: zigzag, then little-endian base-128 varint."""
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_bytes(b: bytes) -> bytes:
    return _enc_long(len(b)) + b


def _enc_str(s: str) -> bytes:
    return _enc_bytes(s.encode("utf-8"))


def _enc_nullable(v, enc) -> bytes:
    """["null", T] union: branch index (0 = null, 1 = T), then value."""
    if v is None:
        return _enc_long(0)
    return _enc_long(1) + enc(v)


def _enc_document(row: dict) -> bytes:
    return b"".join(
        (
            _enc_nullable(row.get("doc_id"), _enc_long),
            _enc_nullable(row.get("text"), _enc_str),
            _enc_nullable(row.get("lang"), _enc_str),
            _enc_nullable(row.get("source"), _enc_str),
            _enc_nullable(row.get("n_chars"), _enc_long),
        )
    )


def write_avro_documents(path: str, rows: list[dict]) -> None:
    """Write one spec-conformant Avro object container file: deflate
    codec, ``_ROWS_PER_BLOCK``-row blocks, deterministic output (the
    sync marker is derived from the path+row count, not random, so
    regeneration is byte-stable and cache-friendly)."""
    import hashlib

    sync = hashlib.md5(
        f"{os.path.basename(path)}:{len(rows)}".encode()
    ).digest()  # exactly 16 bytes, as the spec requires
    meta = {
        "avro.schema": json.dumps(_DOC_SCHEMA).encode(),
        "avro.codec": b"deflate",
    }
    buf = io.BytesIO()
    buf.write(b"Obj\x01")
    buf.write(_enc_long(len(meta)))
    for k, v in sorted(meta.items()):
        buf.write(_enc_str(k))
        buf.write(_enc_bytes(v))
    buf.write(_enc_long(0))  # metadata map terminator
    buf.write(sync)
    for st in range(0, len(rows), _ROWS_PER_BLOCK):
        block = rows[st : st + _ROWS_PER_BLOCK]
        raw = b"".join(_enc_document(r) for r in block)
        # "deflate" per the spec = RFC 1951 raw deflate, NO zlib
        # header/checksum (wbits=-15); fixed level => deterministic
        comp = zlib.compressobj(6, zlib.DEFLATED, -15)
        data = comp.compress(raw) + comp.flush()
        buf.write(_enc_long(len(block)))
        buf.write(_enc_long(len(data)))
        buf.write(data)
        buf.write(sync)
    with open(path, "wb") as f:
        f.write(buf.getvalue())


# --- binary decoding (reader side, runs in mapInPandas) -------------

class _Reader:
    def __init__(self, blob: bytes):
        self.b = blob
        self.i = 0

    def long(self) -> int:
        shift = z = 0
        while True:
            if self.i >= len(self.b):
                # a container truncated mid-varint must raise the
                # documented loud-failure contract, not IndexError
                # (raw() already checks — ADVICE r8)
                raise AvroFormatError("truncated container")
            byte = self.b[self.i]
            self.i += 1
            z |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        return (z >> 1) ^ -(z & 1)

    def raw(self, n: int) -> bytes:
        out = self.b[self.i : self.i + n]
        if len(out) != n:
            raise AvroFormatError("truncated container")
        self.i += n
        return out

    def bytes_(self) -> bytes:
        return self.raw(self.long())

    def str_(self) -> str:
        return self.bytes_().decode("utf-8")

    def eof(self) -> bool:
        return self.i >= len(self.b)


_PRIMITIVE_DECODERS = {
    "long": lambda r: r.long(),
    "int": lambda r: r.long(),
    "string": lambda r: r.str_(),
    "bytes": lambda r: r.bytes_(),
    "boolean": lambda r: r.raw(1) == b"\x01",
    "double": lambda r: struct.unpack("<d", r.raw(8))[0],
    "float": lambda r: struct.unpack("<f", r.raw(4))[0],
    "null": lambda r: None,
}


def _field_decoder(ftype):
    """Decoder for one schema field: a primitive name or a
    ["null", T] union. Anything else is outside the implemented
    subset — refuse loudly."""
    if isinstance(ftype, str):
        if ftype not in _PRIMITIVE_DECODERS:
            raise AvroFormatError(f"unimplemented avro type {ftype!r}")
        return _PRIMITIVE_DECODERS[ftype]
    if isinstance(ftype, list):
        branches = []
        for t in ftype:
            if not isinstance(t, str) or t not in _PRIMITIVE_DECODERS:
                raise AvroFormatError(
                    f"unimplemented avro union branch {t!r}"
                )
            branches.append(_PRIMITIVE_DECODERS[t])

        def dec(r, branches=branches):
            ix = r.long()
            if not 0 <= ix < len(branches):
                raise AvroFormatError(f"union index {ix} out of range")
            return branches[ix](r)

        return dec
    raise AvroFormatError(f"unimplemented avro type {ftype!r}")


def read_avro_records(blob: bytes) -> tuple[list[str], list[dict]]:
    """Decode one Avro object container: returns (field names, rows).
    Schema-driven — the writer schema embedded in the header decides
    the field decoders, so this reads any container within the
    primitive/nullable-union subset, not just this module's own."""
    r = _Reader(blob)
    if r.raw(4) != b"Obj\x01":
        raise AvroFormatError("not an Avro object container (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = r.long()
        if n == 0:
            break
        if n < 0:  # spec: negative count, then byte size of the block
            n = -n
            r.long()
        for _ in range(n):
            # explicit temporaries: the spec order is key THEN value,
            # and a `meta[r.str_()] = r.bytes_()` one-liner evaluates
            # its RHS first, reading them swapped
            k = r.str_()
            meta[k] = r.bytes_()
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null")
    if codec not in (b"null", b"deflate"):
        raise AvroFormatError(f"unimplemented avro codec {codec!r}")
    if schema.get("type") != "record":
        raise AvroFormatError("only record schemas are implemented")
    names = [f["name"] for f in schema["fields"]]
    decoders = [_field_decoder(f["type"]) for f in schema["fields"]]
    sync = r.raw(16)
    rows: list[dict] = []
    while not r.eof():
        n_rec = r.long()
        n_bytes = r.long()
        data = r.raw(n_bytes)
        if codec == b"deflate":
            data = zlib.decompress(data, -15)
        br = _Reader(data)
        for _ in range(n_rec):
            rows.append({k: d(br) for k, d in zip(names, decoders)})
        if r.raw(16) != sync:
            raise AvroFormatError("sync marker mismatch (corrupt block)")
    return names, rows


# --- fixture ---------------------------------------------------------

def ensure_avro_fixture(sf_dir: str) -> str:
    """Write the Avro twin of ``{sf_dir}/documents.parquet`` as
    ``_N_PARTS`` container part files and return the directory.
    Derivation is 1:1 (same rows, round-robin sharded — the census is
    order-insensitive), once per source content
    (``session_cache.derived_fixture``).
    """
    import pyarrow.parquet as pq

    src = f"{sf_dir}/documents.parquet"

    def write(tmp: str) -> None:
        os.makedirs(tmp)
        rows = pq.read_table(
            src, columns=["doc_id", "text", "lang", "source", "n_chars"]
        ).to_pylist()
        for part in range(_N_PARTS):
            write_avro_documents(
                os.path.join(tmp, f"part-{part}.avro"),
                rows[part::_N_PARTS],
            )

    return derived_fixture(src, "documents_avro", write)


# --- the census key --------------------------------------------------

_ORACLE_AVRO_CENSUS = """
SELECT lang,
       source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END)
            AS BIGINT) AS n_len_consistent,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM documents
GROUP BY lang, source
"""


@register("avro_census", _ORACLE_AVRO_CENSUS, tags=("source", "avro"))
def avro_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the stdlib-written Avro corpus through ``binaryFile`` +
    one ``mapInPandas`` stdlib decode and census it per (lang,
    source) — the exact shape of ``orc_census``, so the two keys'
    oracles are intentionally identical: a hash-green row proves the
    Avro write+read preserved every row, every string's character
    length (RECOMPUTED from the decoded text, not trusted from
    n_chars), and both integer columns, across a writer and a reader
    that share only the public spec.

    Scale: one task per container part file (binaryFile's unit);
    decode emits 5 narrow columns per row — the text column's length
    is measured inside the decoder and the text itself never rides
    the Arrow boundary; the census aggregate is map-side-combining.
    """
    import pandas as pd

    path = ensure_avro_fixture(sf_dir)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(path)
        # prune BEFORE mapInPandas: it ships every input column
        .select("content")
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for blob in pdf["content"]:
                _, rows = read_avro_records(bytes(blob))
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(
                            [r["doc_id"] for r in rows], dtype="Int64"
                        ),
                        "lang": pd.Series(
                            [r["lang"] for r in rows], dtype="object"
                        ),
                        "source": pd.Series(
                            [r["source"] for r in rows], dtype="object"
                        ),
                        "text_len": pd.Series(
                            [
                                None if r["text"] is None else len(r["text"])
                                for r in rows
                            ],
                            dtype="Int64",
                        ),
                        "n_chars": pd.Series(
                            [r["n_chars"] for r in rows], dtype="Int64"
                        ),
                    }
                )

    decoded = files.mapInPandas(
        decode,
        "doc_id bigint, lang string, source string, "
        "text_len bigint, n_chars bigint",
    )
    return decoded.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("text_len").cast("bigint").alias("total_chars"),
        F.sum(
            F.when(F.col("text_len") == F.col("n_chars"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_len_consistent"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )
