"""Credential-provider keystore: ``--password-alias`` parity.

The reference resolves ``--password-alias`` through Hadoop's
CredentialProvider API — a JCEKS keystore named by
``hadoop.security.credential.provider.path``, unlocked by
``HADOOP_CREDSTORE_PASSWORD`` (default ``"none"``), managed with
``hadoop credential create <alias>`` (tool/BaseSqoopTool.java
PASSWORD_ALIAS_ARG + CredentialsUtil.fetchPasswordFromCredentialProvider,
CredentialProviderHelper.java). This module is the documented equivalent
for an environment with no JVM keystore and no crypto library:

- the provider is a single JSON keystore file named by
  ``--credential-provider`` or ``$SQOOP_SPARK_CREDENTIAL_PROVIDER_PATH``
  (the ``hadoop.security.credential.provider.path`` analog);
- each alias's secret is encrypted with a keystream derived from the
  store password (``$SQOOP_SPARK_CREDSTORE_PASSWORD``, default
  ``"none"`` — Hadoop's own default, which logs a warning on every create
  and fetch because it only obfuscates; an explicit empty store password
  is refused) via PBKDF2-HMAC-SHA256 key derivation and an HMAC-SHA256
  counter-mode keystream, with an HMAC integrity tag (encrypt-then-MAC).
  Stdlib-only; the divergence from JCEKS's JCE ciphers is documented here
  rather than shipping a hand-rolled AES;
- the store is created ``0600`` and reads warn when group/other-readable,
  the same posture as ``--password-file``.

A wrong store password or a tampered entry fails closed (the integrity
tag will not verify) instead of returning garbage bytes as a password.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import logging
import os
import secrets
import sys

ENV_PROVIDER_PATH = "SQOOP_SPARK_CREDENTIAL_PROVIDER_PATH"
ENV_STORE_PASSWORD = "SQOOP_SPARK_CREDSTORE_PASSWORD"
DEFAULT_STORE_PASSWORD = "none"  # Hadoop's CredentialProvider default
_PBKDF2_ITERS = 100_000
VERSION = 1
_log = logging.getLogger(__name__)


class CredentialError(Exception):
    pass


def _store_password(explicit: str | None = None) -> str:
    """The store password: ``explicit``, else ``$SQOOP_SPARK_CREDSTORE_PASSWORD``,
    else Hadoop's default — with a warning, because a store sealed under
    the public default is readable by anyone who can read the file. An
    explicit empty password is an error, not a request for the default."""
    if explicit == "":
        raise CredentialError("store password must not be empty")
    pw = explicit or os.environ.get(ENV_STORE_PASSWORD)
    if pw:
        return pw
    _log.warning(
        "credential store password is the default %r ($%s unset): the "
        "keystore only obfuscates its secrets; anyone who can read the "
        "file can decrypt them",
        DEFAULT_STORE_PASSWORD,
        ENV_STORE_PASSWORD,
    )
    return DEFAULT_STORE_PASSWORD


def _derive_key(store_password: str, salt: bytes) -> bytes:
    return hashlib.pbkdf2_hmac(
        "sha256", store_password.encode(), salt, _PBKDF2_ITERS
    )


def _keystream(key: bytes, n: int) -> bytes:
    out = bytearray()
    counter = 0
    while len(out) < n:
        out += hmac.new(key, counter.to_bytes(8, "big"), hashlib.sha256).digest()
        counter += 1
    return bytes(out[:n])


def _tag(key: bytes, alias: str, ct: bytes) -> bytes:
    # the ALIAS is bound into the MAC: transplanting one alias's sealed
    # blob onto another alias (a substitution attack the
    # ciphertext-only tag would verify) fails the integrity check
    return hmac.new(
        key, b"tag|" + alias.encode() + b"|" + ct, hashlib.sha256
    ).digest()


def _seal(secret: str, store_password: str, alias: str) -> dict:
    salt = secrets.token_bytes(16)
    key = _derive_key(store_password, salt)
    pt = secret.encode()
    ct = bytes(a ^ b for a, b in zip(pt, _keystream(key, len(pt))))
    return {
        "salt": base64.b64encode(salt).decode(),
        "cipher": base64.b64encode(ct).decode(),
        "tag": base64.b64encode(_tag(key, alias, ct)).decode(),
    }


def _unseal(entry: dict, store_password: str, alias: str) -> str:
    salt = base64.b64decode(entry["salt"])
    ct = base64.b64decode(entry["cipher"])
    key = _derive_key(store_password, salt)
    if not hmac.compare_digest(
        _tag(key, alias, ct), base64.b64decode(entry["tag"])
    ):
        raise CredentialError(
            f"credential {alias!r}: integrity check failed — wrong store "
            "password or tampered keystore"
        )
    return bytes(a ^ b for a, b in zip(ct, _keystream(key, len(ct)))).decode()


def _load(path: str) -> dict:
    if not os.path.exists(path):
        return {"version": VERSION, "credentials": {}}
    mode = os.stat(path).st_mode & 0o777
    if mode & 0o077:
        print(
            f"WARNING: credential provider {path} is readable by "
            f"group/others (mode {mode:o}); chmod 600 recommended.",
            file=sys.stderr,
        )
    with open(path) as f:
        doc = json.load(f)
    if doc.get("version") != VERSION:
        raise CredentialError(f"{path}: unsupported keystore version")
    return doc


def _save(path: str, doc: dict) -> None:
    d = os.path.dirname(os.path.abspath(path))
    os.makedirs(d, exist_ok=True)
    tmp = path + ".tmp"
    fd = os.open(tmp, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o600)
    with os.fdopen(fd, "w") as f:
        json.dump(doc, f, indent=1)
    os.replace(tmp, path)


def create_credential(
    path: str, alias: str, secret: str, store_password: str | None = None,
    overwrite: bool = False,
) -> None:
    doc = _load(path)
    if alias in doc["credentials"] and not overwrite:
        raise CredentialError(
            f"Credential {alias} already exists in {path} (use --overwrite)"
        )
    doc["credentials"][alias] = _seal(
        secret, _store_password(store_password), alias
    )
    _save(path, doc)


def fetch_credential(
    path: str, alias: str, store_password: str | None = None
) -> str:
    doc = _load(path)
    entry = doc["credentials"].get(alias)
    if entry is None:
        raise CredentialError(f"Credential {alias} not found in {path}")
    return _unseal(entry, _store_password(store_password), alias)


def list_aliases(path: str) -> list[str]:
    return sorted(_load(path)["credentials"])


def delete_credential(path: str, alias: str) -> None:
    doc = _load(path)
    if alias not in doc["credentials"]:
        raise CredentialError(f"Credential {alias} not found in {path}")
    del doc["credentials"][alias]
    _save(path, doc)


def resolve_provider_path(explicit: str | None = None) -> str | None:
    return explicit or os.environ.get(ENV_PROVIDER_PATH)
