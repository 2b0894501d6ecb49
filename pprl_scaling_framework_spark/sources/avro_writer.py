"""Minimal Avro 1.x object-container WRITER — the write side of
``avro_reader`` (S3 parity: the reference writes its datasets/encodings as
avro part files, ``lib/datasets/DatasetsUtil.java:615-731``).

Dependency-free like the reader: magic ``Obj\\x01``, metadata map
(``avro.schema``, ``avro.codec``), sync-marker-delimited blocks, null and
deflate codecs, and the same value types the reader handles (record /
string / fixed / bytes / int / long / boolean / float / double).

Deterministic output: the sync marker is derived from the schema + codec
(md5), and block boundaries are a pure function of ``block_records`` — the
same records always produce byte-identical files (tested), so stage outputs
are content-addressable.
"""

from __future__ import annotations

import hashlib
import io
import json
import struct
import zlib

from .session import worker_task_setup


def _zigzag(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _is_null(value, allow_nan: bool = False) -> bool:
    """None or a pandas null scalar (NaN/pd.NA/NaT) — arrays/bytes are never
    null here (pd.isna on them returns an array, which we must not truthy).

    ``allow_nan``: float NaN is a LEGAL Avro float/double value, so for those
    schema types only None/pd.NA/NaT count as null — a pandas-missing NaN in
    a float column is indistinguishable from a real NaN, and Avro's own
    semantics say it's a value."""
    if value is None:
        return True
    if isinstance(value, (list, tuple, dict, bytes, bytearray, str)):
        return False
    if allow_nan:
        import numpy as np

        if isinstance(value, (float, np.floating)):
            return False
    try:
        import pandas as pd

        res = pd.isna(value)
        return bool(res) if not hasattr(res, "__len__") else False
    except Exception:
        return False


def _write_value(buf: io.BytesIO, schema, value, field: str = "<root>") -> None:
    t = schema if isinstance(schema, str) else schema["type"]
    if t != "record" and _is_null(value, allow_nan=t in ("float", "double")):
        # clear error instead of an opaque executor AttributeError; avro
        # nulls need union types, which this minimal writer doesn't support.
        # (_is_null also catches the NaN/pd.NA that pandas to_dict yields for
        # missing values — those would otherwise fail deep in executors)
        raise ValueError(
            f"null value for field {field!r} — avro union/null types are not "
            "supported by this writer; fill or drop nulls before writing"
        )
    if t == "record":
        for f in schema["fields"]:
            _write_value(buf, f["type"], value[f["name"]], field=f["name"])
    elif t == "string":
        data = value.encode("utf-8")
        buf.write(_zigzag(len(data)))
        buf.write(data)
    elif t == "fixed":
        assert len(value) == schema["size"], "fixed size mismatch"
        buf.write(bytes(value))
    elif t == "bytes":
        buf.write(_zigzag(len(value)))
        buf.write(bytes(value))
    elif t in ("int", "long"):
        buf.write(_zigzag(int(value)))
    elif t == "boolean":
        buf.write(b"\x01" if value else b"\x00")
    elif t == "float":
        buf.write(struct.pack("<f", value))
    elif t == "double":
        buf.write(struct.pack("<d", value))
    else:
        raise NotImplementedError(f"avro type {t!r}")


def write_avro(
    path: str,
    schema: dict,
    records: list[dict],
    codec: str = "null",
    block_records: int = 1000,
) -> None:
    """Write one Avro object-container file (round-trips with read_avro)."""
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"codec {codec}")
    schema_json = json.dumps(schema, separators=(",", ":"))
    sync = hashlib.md5((schema_json + codec).encode()).digest()

    out = io.BytesIO()
    out.write(b"Obj\x01")
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    out.write(_zigzag(len(meta)))
    for k, v in sorted(meta.items()):
        kd = k.encode()
        out.write(_zigzag(len(kd)))
        out.write(kd)
        out.write(_zigzag(len(v)))
        out.write(v)
    out.write(_zigzag(0))
    out.write(sync)

    for i in range(0, len(records), block_records):
        chunk = records[i:i + block_records]
        body = io.BytesIO()
        for rec in chunk:
            _write_value(body, schema, rec)
        data = body.getvalue()
        if codec == "deflate":
            data = zlib.compress(data, 6)[2:-4]  # raw deflate (no zlib wrapper)
        out.write(_zigzag(len(chunk)))
        out.write(_zigzag(len(data)))
        out.write(data)
        out.write(sync)

    with open(path, "wb") as f:
        f.write(out.getvalue())


def spark_schema_to_avro(df_schema, name: str = "Record", namespace: str = "pprl.spark") -> dict:
    """Map a flat Spark StructType to an Avro record schema."""
    type_of = {
        "string": "string", "binary": "bytes", "long": "long", "int": "int",
        "integer": "int", "double": "double", "float": "float", "boolean": "boolean",
    }
    fields = []
    for f in df_schema.fields:
        t = type_of.get(f.dataType.typeName())
        if t is None:
            raise NotImplementedError(f"no avro mapping for {f.dataType.typeName()}")
        fields.append({"name": f.name, "type": t})
    return {"type": "record", "name": name, "namespace": namespace, "fields": fields}


def write_avro_dataframe(
    df, out_dir: str, codec: str = "null", name: str = "Record"
) -> list[tuple[str, int]]:
    """Write a flat DataFrame as avro part files, one per partition (the
    reference's part-NNNNN layout). Returns [(path, record_count)].

    Each executor task writes its own partition — the driver never holds the
    data. ``out_dir`` must be a shared filesystem path.
    """
    import os
    from typing import Iterator

    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    schema = spark_schema_to_avro(df.schema, name=name)
    cols = [f.name for f in df.schema.fields]

    def _write(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        from pyspark import TaskContext

        worker_task_setup()
        pid = TaskContext.get().partitionId()
        rows: list[dict] = []
        for pdf in batches:
            rows.extend(pdf[cols].to_dict("records"))
        path = os.path.join(out_dir, f"part-{pid:05d}.avro")
        write_avro(path, schema, rows, codec=codec)
        yield pd.DataFrame({"path": [path], "n": [len(rows)]})

    return [
        (r["path"], r["n"])
        for r in df.mapInPandas(_write, "path string, n long").collect()
    ]
