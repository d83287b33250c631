"""Parquet Modular Encryption (PME) support.

Reference parity (SURVEY.md §2A A15; src/encryption.rs): the catalog's
``ducklake_data_file.encryption_key`` column holds a per-file AES footer
key (base64 / hex / raw 16|24|32 bytes — decode order matches
encryption.rs:119-155). Spark's Parquet reader has no PME hook, so
encrypted files are read via pyarrow (which has full PME) into Arrow and
handed to Spark — the route SURVEY.md §1.4 prescribes.

Scale note: the pyarrow decode runs inside ``mapInPandas``-style executor
tasks when used through ``read_encrypted_distributed`` — the driver only
ships (path, key) pairs, so this scales with executors; the convenience
``read_encrypted`` path is driver-side for small files / tests.
DuckDB-native encryption (non-standard, pre-PME) is explicitly
unsupported with a targeted error, matching the reference
(encryption.rs:33-57).
"""

from __future__ import annotations

import base64
import binascii

from pyspark.sql import DataFrame, SparkSession

from ..errors import InvalidConfig

_AES_LENGTHS = (16, 24, 32)


def decode_key(key: str) -> bytes:
    """base64 → hex → raw, first decoding that yields a valid AES length
    (ref: encryption.rs:129-155)."""
    try:
        decoded = base64.b64decode(key, validate=True)
        if len(decoded) in _AES_LENGTHS:
            return decoded
    except (binascii.Error, ValueError):
        pass
    try:
        decoded = bytes.fromhex(key)
        if len(decoded) in _AES_LENGTHS:
            return decoded
    except ValueError:
        pass
    raw = key.encode()
    if len(raw) in _AES_LENGTHS:
        return raw
    raise InvalidConfig(
        "encryption key is not a valid AES-128/192/256 key in base64, hex, "
        "or raw form (key value not shown)")


def _make_kms_class():
    import hashlib

    import pyarrow.parquet.encryption as pe

    class _CatalogKeyKms(pe.KmsClient):
        """KmsClient backed by the per-file catalog key.

        pyarrow's public PME API is envelope-mode only (a random DEK is
        generated per file and must be wrapped by the KMS; the direct
        footer-key constructors are not usable from Python). We wrap the
        DEK by XOR with a SHA-256 PRF of (catalog key ‖ master-key id) —
        the DEK never appears in the file in recoverable form without the
        catalog key. Interop note: files written by engines that use the
        catalog key directly as the parquet footer key (no key metadata)
        cannot be opened through this factory — documented gap until
        pyarrow exposes direct-footer-key decryption properties.
        """

        def __init__(self, key: bytes):
            super().__init__()
            self._key = key

        def _prf(self, master_key_identifier: str, n: int) -> bytes:
            out = b""
            counter = 0
            while len(out) < n:
                out += hashlib.sha256(
                    self._key + master_key_identifier.encode()
                    + counter.to_bytes(4, "big")).digest()
                counter += 1
            return out[:n]

        def wrap_key(self, key_bytes: bytes, master_key_identifier: str) -> bytes:
            pad = self._prf(master_key_identifier, len(key_bytes))
            return base64.b64encode(bytes(a ^ b for a, b in zip(key_bytes, pad)))

        def unwrap_key(self, wrapped_key: bytes, master_key_identifier: str) -> bytes:
            enc_dek = base64.b64decode(wrapped_key)
            pad = self._prf(master_key_identifier, len(enc_dek))
            return bytes(a ^ b for a, b in zip(enc_dek, pad))

    return _CatalogKeyKms


def _crypto_factory(key: bytes):
    import pyarrow.parquet.encryption as pe
    kms_cls = _make_kms_class()
    return pe.CryptoFactory(lambda cfg: kms_cls(key)), pe


def write_encrypted(table, path: str, key: bytes) -> None:
    """Write an Arrow table as a PME-encrypted parquet file (footer+columns
    encrypted with one key) — fixture/writer support."""
    import pyarrow.parquet as pq
    factory, pe = _crypto_factory(key)
    enc_props = factory.file_encryption_properties(
        pe.KmsConnectionConfig(),
        pe.EncryptionConfiguration(
            footer_key="k0",
            # this pyarrow build has no uniform_encryption flag — encrypt
            # every column with the footer key explicitly
            column_keys={"k0": list(table.schema.names)},
            encryption_algorithm="AES_GCM_V1",
            data_key_length_bits=len(key) * 8))
    with pq.ParquetWriter(path, table.schema,
                          encryption_properties=enc_props) as w:
        w.write_table(table)


def read_footer_key_arrow(path: str, key: bytes):
    """Decrypt a DIRECT-footer-key PME file — the reference's (and
    DuckDB's) on-disk format, where the catalog key IS the parquet footer
    key with no KMS envelope (ref: encryption.rs:26-120; DuckDB
    add_parquet_key + ENCRYPTION_CONFIG writes exactly this).

    pyarrow's Python surface cannot express this mode (CryptoFactory is
    envelope-only; probed this build: pyarrow 16's
    ``_parquet.FileDecryptionProperties`` constructor accepts arguments
    but stores nothing — a reader handed one still fails with "no
    decryption found"), but DuckDB's parquet reader can, and duckdb is
    bundled with the Python workers — so the decode stays executor-side
    and Arrow-native.

    Non-UTF8 raw keys are a documented capability gap shared WITH DuckDB
    itself: ``add_parquet_key`` is VARCHAR-only, and probing shows a
    base64-encoded registration is consumed as a raw AES-192 string, not
    decoded (a file written with the plain key does not read back under
    the base64 form) — so no engine in this ecosystem can address such a
    file today; the targeted error below is the honest surface."""
    import duckdb
    try:
        key_str = key.decode("utf-8")
    except UnicodeDecodeError as e:
        raise InvalidConfig(
            "direct-footer-key decryption of a non-UTF8 AES key is not "
            "supported by this build (duckdb's add_parquet_key surface is "
            "VARCHAR-only); re-encrypt with a UTF-8-safe key or use the "
            "KMS-envelope format") from e
    key_lit = key_str.replace("'", "''")
    path_lit = path.replace("'", "''")
    con = duckdb.connect()
    try:
        con.execute(f"PRAGMA add_parquet_key('k', '{key_lit}')")
        return con.execute(
            f"SELECT * FROM read_parquet('{path_lit}', "
            f"encryption_config={{footer_key: 'k'}})").arrow()
    finally:
        con.close()


def read_encrypted_schema(path: str, key: bytes):
    """Arrow schema of an encrypted file without reading data (footer
    decrypt only); falls back to a full direct-footer-key read for files
    the KMS-envelope route cannot open."""
    import pyarrow.parquet as pq
    factory, pe = _crypto_factory(key)
    dec_props = factory.file_decryption_properties(pe.KmsConnectionConfig())
    try:
        return pq.ParquetFile(
            path, decryption_properties=dec_props).schema_arrow
    except Exception:
        return read_footer_key_arrow(path, key).schema


def read_encrypted_arrow(path: str, key: bytes):
    """Driver/executor-side decrypt of one file.

    Tries the pyarrow KMS-envelope route first (files written by our own
    ``write_encrypted``), then falls back to the direct-footer-key route
    (files written by DuckDB / the reference engine) — so both on-disk
    formats read through one entry point."""
    import pyarrow.parquet as pq
    factory, pe = _crypto_factory(key)
    dec_props = factory.file_decryption_properties(pe.KmsConnectionConfig())
    try:
        return pq.ParquetFile(path, decryption_properties=dec_props).read()
    except Exception:
        return read_footer_key_arrow(path, key)


def is_encrypted_parquet(path: str) -> bool:
    """PME-encrypted files start with magic 'PARE' instead of 'PAR1'."""
    with open(path, "rb") as f:
        return f.read(4) == b"PARE"


def check_not_duckdb_encrypted(path: str) -> None:
    """DuckDB's own (non-PME) encryption is unsupported — raise the
    reference's targeted error rather than a generic parse failure
    (ref: encryption.rs:33-57)."""
    with open(path, "rb") as f:
        magic = f.read(4)
    if magic not in (b"PAR1", b"PARE"):
        raise InvalidConfig(
            f"file {path} is not a standard or PME parquet file; DuckDB-native "
            f"encrypted DuckLake files are not supported (use PME)")


def read_encrypted(spark: SparkSession, files: list[tuple[str, str]],
                   schema=None) -> DataFrame:
    """Read encrypted parquet files [(path, stored_key), ...] into one
    DataFrame. Driver-side decode — fine for metadata-scale files."""
    import pyarrow as pa
    tables = [read_encrypted_arrow(p, decode_key(k)) for p, k in files]
    merged = pa.concat_tables(tables)
    df = spark.createDataFrame(merged.to_pandas())
    return df.to(schema) if schema is not None else df


def read_encrypted_distributed(spark: SparkSession,
                               files: list[tuple[str, str]],
                               schema) -> DataFrame:
    """Executor-side variant: parallelize (path, key) pairs and decrypt
    inside tasks — the 100 TB path (driver never touches payload bytes)."""
    def decode_batches(pdf_iter):
        for pdf in pdf_iter:
            for path, key in zip(pdf["path"], pdf["key"]):
                tbl = read_encrypted_arrow(path, decode_key(key))
                for batch in tbl.to_batches():
                    yield batch.to_pandas()

    pairs = spark.createDataFrame(files, "path STRING, key STRING") \
        .repartition(max(len(files), 1))
    return pairs.mapInPandas(decode_batches, schema)


def write_encrypted_distributed(df: DataFrame, dest_dir: str) -> list[dict]:
    """Write a DataFrame as PME-encrypted parquet, one file per non-empty
    partition, written INSIDE executor tasks (the driver never touches
    payload bytes — the 100 TB path). Each file gets a fresh random
    AES-128 key; the returned manifest [(name, key_b64, rows, size,
    footer)] is a tiny per-file collect. Local/posix table paths only —
    pyarrow's PME writer needs a seekable local file."""
    if "://" in dest_dir and not dest_dir.startswith("file://"):
        from ..errors import InvalidConfig
        raise InvalidConfig(
            "encrypted writes require a local table path (pyarrow PME "
            "writer); object-store encrypted staging is not supported")
    base = dest_dir[len("file://"):] if dest_dir.startswith("file://") \
        else dest_dir

    def write_part(batch_iter):
        import base64
        import os as _os
        import secrets
        import uuid as _uuid

        import pyarrow as pa
        batches = [b for b in batch_iter]
        rows = sum(b.num_rows for b in batches)
        if rows == 0:
            return
        key = secrets.token_bytes(16)
        name = f"ducklake-{_uuid.uuid4()}.parquet"
        path = _os.path.join(base, name)
        # the table dir may not exist yet: a fully-inlined table being
        # flushed has no prior file write (data_inlining_encryption)
        _os.makedirs(base, exist_ok=True)
        write_encrypted(pa.Table.from_batches(batches), path, key)
        size = _os.path.getsize(path)
        with open(path, "rb") as f:
            f.seek(-8, 2)
            tail = f.read(8)
        footer = int.from_bytes(tail[:4], "little") + 8
        yield pa.RecordBatch.from_pydict({
            "name": [name],
            "key": [base64.b64encode(key).decode("ascii")],
            "rows": [rows], "size": [size], "footer": [footer]})

    manifest = df.mapInArrow(
        write_part,
        "name string, key string, rows long, size long, footer long"
    ).collect()
    return [r.asDict() for r in manifest]


def write_encrypted_partitioned(df: DataFrame, dest_dir: str,
                                pk_cols: list[str]) -> list[dict]:
    """Encrypted write for a PARTITIONED table: ``df`` carries the
    string-typed partition-key staging columns (transforms already
    applied) and has been repartitioned on them, so each executor task
    holds whole key groups. Each task writes ONE PME-encrypted file per
    distinct combo — files land FLAT in the table dir (no key=value path
    segments: an encrypted table's filenames must not leak its values —
    sql/encryption/partitioning_encryption.test) and the manifest rows
    carry the combo (JSON list) for catalog partition-value rows."""
    if "://" in dest_dir and not dest_dir.startswith("file://"):
        from ..errors import InvalidConfig
        raise InvalidConfig(
            "encrypted writes require a local table path (pyarrow PME "
            "writer); object-store encrypted staging is not supported")
    base = dest_dir[len("file://"):] if dest_dir.startswith("file://") \
        else dest_dir
    keys = list(pk_cols)

    def write_part(batch_iter):
        import base64
        import json as _json
        import os as _os
        import secrets
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        batches = [b for b in batch_iter]
        tbl = pa.Table.from_batches(batches) if batches else None
        if tbl is None or tbl.num_rows == 0:
            return
        # distinct combos vectorized (group_by, not a per-row to_pylist —
        # a task may hold millions of rows)
        combos = sorted(
            (tuple(row[k] for k in keys)
             for row in tbl.group_by(keys).aggregate([]).to_pylist()),
            key=lambda c: tuple("" if v is None else str(v) for v in c))
        _os.makedirs(base, exist_ok=True)
        for combo in combos:
            mask = None
            for k, v in zip(keys, combo):
                m = (pc.is_null(tbl[k]) if v is None
                     else pc.equal(tbl[k], pa.scalar(v, pa.string())))
                mask = m if mask is None else pc.and_(mask, m)
            sub = tbl.filter(mask).drop_columns(keys)
            key = secrets.token_bytes(16)
            name = f"ducklake-{_uuid.uuid4()}.parquet"
            path = _os.path.join(base, name)
            write_encrypted(sub, path, key)
            size = _os.path.getsize(path)
            with open(path, "rb") as f:
                f.seek(-8, 2)
                tail = f.read(8)
            footer = int.from_bytes(tail[:4], "little") + 8
            yield pa.RecordBatch.from_pydict({
                "name": [name],
                "key": [base64.b64encode(key).decode("ascii")],
                "rows": [sub.num_rows], "size": [size], "footer": [footer],
                "pvals": [_json.dumps(list(combo))]})

    manifest = df.mapInArrow(
        write_part,
        "name string, key string, rows long, size long, footer long, "
        "pvals string"
    ).collect()
    return [r.asDict() for r in manifest]
