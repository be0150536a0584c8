"""Client-side envelope encryption (CSE-KMS analog) for lake objects.

The reference decrypts/re-encrypts whole S3 objects around its row-level
rewrite when the object was written by the Amazon S3 Encryption Client
(reference: backend/ecs_tasks/delete_files/cse.py:27-138): the object's
user metadata carries the envelope — a KMS-wrapped data key
(``x-amz-key-v2``), IV, content algorithm (``AES/CBC/PKCS5Padding`` or
``AES/GCM/NoPadding``) and material description — and every rewrite
generates a FRESH data key.

This module reproduces those semantics for the Spark engine:

- the same (public, documented) S3 encryption-client header names and
  algorithms, so envelopes are shape-compatible;
- a ``LocalKms`` stub standing in for the KMS API surface the handlers
  need (``generate_data_key`` / ``decrypt``), wrapping data keys with a
  master key (AES-GCM, encryption context as AAD) — swap in a real
  boto3 KMS client on AWS;
- local files have no user metadata, so envelopes live in a
  ``<file>.s3meta.json`` sidecar;
- ``read_encrypted_parquet`` scans an encrypted lake distributedly:
  ``binaryFile`` rows decrypted + parsed per-executor via
  ``mapInPandas`` (the lake never touches disk decrypted).

Everything is gated on the ``cryptography`` package (import-try); the
engine works without it as long as no encrypted object is touched.
"""

from __future__ import annotations

import base64
import json
import os

try:  # gated: engine must import without the crypto dependency
    from cryptography.hazmat.primitives.ciphers import Cipher
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM
    from cryptography.hazmat.primitives.ciphers.algorithms import AES
    from cryptography.hazmat.primitives.ciphers.modes import CBC
    from cryptography.hazmat.primitives.padding import PKCS7

    HAVE_CRYPTO = True
except ImportError:  # pragma: no cover
    HAVE_CRYPTO = False

AES_BLOCK_BITS = 128
ALG_CBC = "AES/CBC/PKCS5Padding"
ALG_GCM = "AES/GCM/NoPadding"
HEADER_ALG = "x-amz-cek-alg"
HEADER_KEY = "x-amz-key-v2"
HEADER_IV = "x-amz-iv"
HEADER_MATDESC = "x-amz-matdesc"
HEADER_TAG_LEN = "x-amz-tag-len"
HEADER_UE_CLENGTH = "x-amz-unencrypted-content-length"
HEADER_WRAP_ALG = "x-amz-wrap-alg"

METADATA_SUFFIX = ".s3meta.json"


def _require_crypto():
    if not HAVE_CRYPTO:
        raise NotImplementedError(
            "CSE-KMS support requires the 'cryptography' package"
        )


class LocalKms:
    """Minimal KMS stand-in: wraps/unwraps 256-bit data keys with a
    master key, binding the encryption context as AEAD associated data
    (mirrors KMS's EncryptionContext semantics — a mismatched context
    fails decryption). Picklable, so usable inside Spark tasks."""

    def __init__(self, master_key: bytes, key_id: str = "local-master"):
        if len(master_key) not in (16, 24, 32):
            raise ValueError("master_key must be 16/24/32 bytes")
        self.master_key = master_key
        self.key_id = key_id

    @staticmethod
    def _aad(context: dict) -> bytes:
        return json.dumps(context or {}, sort_keys=True).encode()

    def generate_data_key(self, KeyId, EncryptionContext=None, KeySpec="AES_256"):
        _require_crypto()
        assert KeySpec == "AES_256"
        plaintext = os.urandom(32)
        iv = os.urandom(12)
        wrapped = AESGCM(self.master_key).encrypt(
            iv, plaintext, self._aad(EncryptionContext)
        )
        return {
            "Plaintext": plaintext,
            "CiphertextBlob": iv + wrapped,
            "KeyId": KeyId,
        }

    def decrypt(self, CiphertextBlob, EncryptionContext=None):
        _require_crypto()
        iv, wrapped = CiphertextBlob[:12], CiphertextBlob[12:]
        plaintext = AESGCM(self.master_key).decrypt(
            iv, wrapped, self._aad(EncryptionContext)
        )
        return {"Plaintext": plaintext, "KeyId": self.key_id}


def is_kms_cse_encrypted(metadata: dict) -> bool:
    """Envelope sniffing, same rules as the reference (cse.py:27-37):
    v2 KMS envelopes only; v1 (``x-amz-key``) and non-kms wraps raise."""
    if HEADER_KEY in metadata:
        if metadata.get(HEADER_WRAP_ALG) != "kms":
            raise ValueError("Unsupported Encryption strategy")
        if metadata.get(HEADER_ALG) not in (ALG_CBC, ALG_GCM):
            raise ValueError("Unsupported Encryption algorithm")
        return True
    if "x-amz-key" in metadata:
        raise ValueError("Unsupported Amazon S3 Encryption Client Version")
    return False


# --- content ciphers -------------------------------------------------------


def _encrypt_cbc(aes_key: bytes, content: bytes) -> tuple[bytes, bytes]:
    iv = os.urandom(16)
    padder = PKCS7(AES_BLOCK_BITS).padder()
    padded = padder.update(content) + padder.finalize()
    enc = Cipher(AES(aes_key), CBC(iv)).encryptor()
    return enc.update(padded) + enc.finalize(), iv


def _decrypt_cbc(aes_key: bytes, iv: bytes, content: bytes) -> bytes:
    dec = Cipher(AES(aes_key), CBC(iv)).decryptor()
    padded = dec.update(content) + dec.finalize()
    unpadder = PKCS7(AES_BLOCK_BITS).unpadder()
    return unpadder.update(padded) + unpadder.finalize()


def _encrypt_gcm(aes_key: bytes, content: bytes) -> tuple[bytes, bytes]:
    iv = os.urandom(12)
    return AESGCM(aes_key).encrypt(iv, content, None), iv


def _decrypt_gcm(aes_key: bytes, iv: bytes, content: bytes) -> bytes:
    return AESGCM(aes_key).decrypt(iv, content, None)


# --- envelope operations ---------------------------------------------------


def decrypt_bytes(content: bytes, metadata: dict, kms) -> bytes:
    """Unwrap the data key via KMS and decrypt the object content."""
    _require_crypto()
    alg = metadata.get(HEADER_ALG)
    iv = base64.b64decode(metadata[HEADER_IV])
    material_description = json.loads(metadata[HEADER_MATDESC])
    wrapped_key = base64.b64decode(metadata[HEADER_KEY])
    aes_key = kms.decrypt(
        CiphertextBlob=wrapped_key, EncryptionContext=material_description
    )["Plaintext"]
    if alg == ALG_GCM:
        return _decrypt_gcm(aes_key, iv, content)
    return _decrypt_cbc(aes_key, iv, content)


def encrypt_bytes(content: bytes, metadata: dict, kms) -> tuple[bytes, dict]:
    """Encrypt content with a FRESH data key, preserving the previous
    envelope's algorithm (cse.py:57-84). Returns (ciphertext, new
    metadata)."""
    _require_crypto()
    alg = metadata.get(HEADER_ALG, ALG_GCM)
    matdesc = json.loads(metadata.get(HEADER_MATDESC, "{}"))
    cmk_id = matdesc.get("kms_cmk_id", getattr(kms, "key_id", "local-master"))
    context = {"kms_cmk_id": cmk_id}
    resp = kms.generate_data_key(
        KeyId=cmk_id, EncryptionContext=context, KeySpec="AES_256"
    )
    aes_key = resp["Plaintext"]
    out = dict(metadata)
    out[HEADER_UE_CLENGTH] = str(len(content))
    out[HEADER_WRAP_ALG] = "kms"
    out[HEADER_KEY] = base64.b64encode(resp["CiphertextBlob"]).decode()
    out[HEADER_ALG] = alg
    out[HEADER_MATDESC] = json.dumps(context)
    if alg == ALG_GCM:
        out[HEADER_TAG_LEN] = str(AES_BLOCK_BITS)
        ciphertext, iv = _encrypt_gcm(aes_key, content)
    else:
        ciphertext, iv = _encrypt_cbc(aes_key, content)
    out[HEADER_IV] = base64.b64encode(iv).decode()
    return ciphertext, out


# --- local sidecar metadata ------------------------------------------------


def metadata_path(local_path: str) -> str:
    """The envelope sidecar path for an object (committed with the
    ciphertext via ``versions.commit`` companions, never separately)."""
    return local_path + METADATA_SUFFIX


def load_metadata(local_path: str) -> dict:
    side = local_path + METADATA_SUFFIX
    if not os.path.exists(side):
        return {}
    with open(side) as f:
        return json.load(f)


def save_metadata(local_path: str, metadata: dict) -> None:
    side = local_path + METADATA_SUFFIX
    tmp = side + ".tmp"
    with open(tmp, "w") as f:
        json.dump(metadata, f)
    os.replace(tmp, side)


def encrypt_file(
    plain_path: str, out_path: str, kms, alg: str = ALG_GCM, cmk_id: str | None = None
) -> dict:
    """Encrypt a plaintext file into a new envelope + sidecar metadata."""
    with open(plain_path, "rb") as f:
        content = f.read()
    seed = {
        HEADER_ALG: alg,
        HEADER_MATDESC: json.dumps(
            {"kms_cmk_id": cmk_id or getattr(kms, "key_id", "local-master")}
        ),
    }
    ciphertext, metadata = encrypt_bytes(content, seed, kms)
    with open(out_path, "wb") as f:
        f.write(ciphertext)
    save_metadata(out_path, metadata)
    return metadata


def decrypt_file(enc_path: str, out_path: str, kms) -> None:
    metadata = load_metadata(enc_path)
    with open(enc_path, "rb") as f:
        content = f.read()
    plain = decrypt_bytes(content, metadata, kms)
    with open(out_path, "wb") as f:
        f.write(plain)


# --- distributed encrypted scan -------------------------------------------


def read_encrypted_parquet(spark, location: str, kms):
    """Scan a CSE-encrypted Parquet lake as a DataFrame.

    ``binaryFile`` rows (path, content) are decrypted and parsed
    per-executor with ``mapInPandas`` — ciphertext never lands on disk
    decrypted, and the scan distributes one file per task like any
    other source. ``_file_path`` and ``_file_size`` carry provenance for
    Find (``input_file_name()`` and ``_metadata`` do not survive the
    ``mapInPandas``): the object's URI in ``input_file_name()``'s form,
    as a native scan reports it, and its stored (ciphertext) bytes.
    """
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField

    from . import object_path

    _require_crypto()
    files = (
        spark.read.format("binaryFile")
        .load(os.path.join(location, "*.parquet"))
        .select(F.input_file_name().alias("path"), "content", "length")
    )
    # derive the logical schema from one decrypted object on the driver
    first = files.limit(1).collect()
    if not first:
        return spark.createDataFrame(
            [], "`_file_path` string, `_file_size` bigint"
        )
    import io

    local_first = object_path(first[0]["path"])
    sample = decrypt_bytes(
        open(local_first, "rb").read(), load_metadata(local_first), kms
    )
    sample_schema = spark.createDataFrame(
        pq.read_table(io.BytesIO(sample)).to_pandas()
    ).schema
    out_schema = type(sample_schema)(
        sample_schema.fields
        + [
            StructField("_file_path", StringType()),
            StructField("_file_size", LongType()),
        ]
    )

    def decrypt_batches(iterator):
        for batch in iterator:
            for _, row in batch.iterrows():
                path = row["path"]
                local = object_path(path)
                plain = decrypt_bytes(
                    bytes(row["content"]), load_metadata(local), kms
                )
                pdf = pq.read_table(io.BytesIO(plain)).to_pandas()
                pdf["_file_path"] = path
                pdf["_file_size"] = row["length"]
                yield pdf

    return files.mapInPandas(decrypt_batches, out_schema)
