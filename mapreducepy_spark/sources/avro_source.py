"""Avro corpus ingestion (SURVEY.md §2.1 S-family — the row-oriented
interchange format; completes the landing-zone set next to parquet,
JSONL, CSV and ORC).

The two sides of the cross-writer contract share only the public
Avro 1.x container specification:

- the WRITER is a driver-side stdlib implementation of the spec (the
  "foreign writer" role pyarrow plays for ORC): magic ``Obj\\x01``, a
  metadata map with the record schema JSON and the ``deflate`` codec
  (raw RFC-1951 via ``zlib``), 16-byte sync markers, multi-block
  bodies, zigzag-varint longs, length-prefixed UTF-8 strings, and
  ``["null", T]`` unions for every nullable column;
- the READER is Spark's own ``AvroFileFormat``, which raises on a
  corrupt container (bad magic, truncated block, sync mismatch)
  rather than mis-decoding it.

Scale: the reader splits a container at its sync markers, so map
parallelism follows ``spark.sql.files.maxPartitionBytes``, not the
part-file count; the census is the ``orc_census`` aggregate, one
map-side-combining aggregation, |langs|·|sources| rows.
"""

from __future__ import annotations

import io
import json
import os
import zlib

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..session_cache import derived_fixture
from .orc_source import ORACLE_DOC_CENSUS, doc_census

# Spark's Avro reader by its fully qualified class name: pyspark 4.1.2
# ships the class in spark-sql but does not register the short name,
# so ``format("avro")`` raises "Failed to find data source: avro".
_AVRO_FORMAT = "org.apache.spark.sql.avro.AvroFileFormat"

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

@register("avro_census", ORACLE_DOC_CENSUS, tags=("source", "avro"))
def avro_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the stdlib-written Avro corpus with Spark's Avro reader
    and census it per (lang, source) with the ``orc_census``
    aggregate, against the same oracle: a hash-green row proves the
    Avro write+read preserved every row, every string's character
    length (recomputed from the stored text, not trusted from
    n_chars), and both integer columns.
    """
    docs = spark.read.format(_AVRO_FORMAT).load(ensure_avro_fixture(sf_dir))
    return doc_census(docs)
