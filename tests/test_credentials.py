"""--password-alias credential-provider keystore (reference:
tool/BaseSqoopTool.java PASSWORD_ALIAS_ARG, CredentialsUtil,
CredentialProviderHelper — `hadoop credential` JCEKS flow)."""

import argparse
import json
import logging
import os
import subprocess
import sys

import pytest

from sqoop_spark.credentials import (
    ENV_PROVIDER_PATH,
    ENV_STORE_PASSWORD,
    CredentialError,
    create_credential,
    delete_credential,
    fetch_credential,
    list_aliases,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_create_fetch_roundtrip(tmp_path):
    ks = str(tmp_path / "store.json")
    create_credential(ks, "db.pw", "s3cr3t!")
    assert fetch_credential(ks, "db.pw") == "s3cr3t!"
    assert list_aliases(ks) == ["db.pw"]
    # store created 0600
    assert os.stat(ks).st_mode & 0o077 == 0
    # duplicate refused without overwrite
    with pytest.raises(CredentialError, match="already exists"):
        create_credential(ks, "db.pw", "other")
    create_credential(ks, "db.pw", "other", overwrite=True)
    assert fetch_credential(ks, "db.pw") == "other"
    delete_credential(ks, "db.pw")
    with pytest.raises(CredentialError, match="not found"):
        fetch_credential(ks, "db.pw")


def test_wrong_store_password_fails_closed(tmp_path, monkeypatch):
    ks = str(tmp_path / "store.json")
    monkeypatch.setenv(ENV_STORE_PASSWORD, "correct-horse")
    create_credential(ks, "a", "secret")
    assert fetch_credential(ks, "a") == "secret"
    monkeypatch.setenv(ENV_STORE_PASSWORD, "wrong")
    with pytest.raises(CredentialError, match="integrity check failed"):
        fetch_credential(ks, "a")


def test_explicit_empty_store_password_is_an_error(tmp_path, monkeypatch):
    """An explicit '' store password must not silently fall through to
    the environment or to the public default."""
    ks = str(tmp_path / "store.json")
    monkeypatch.setenv(ENV_STORE_PASSWORD, "from-env")
    with pytest.raises(CredentialError, match="must not be empty"):
        create_credential(ks, "a", "secret", store_password="")
    assert not os.path.exists(ks)
    create_credential(ks, "a", "secret")
    with pytest.raises(CredentialError, match="must not be empty"):
        fetch_credential(ks, "a", store_password="")


def test_default_store_password_warns_once_per_call(tmp_path, monkeypatch, caplog):
    ks = str(tmp_path / "store.json")
    monkeypatch.delenv(ENV_STORE_PASSWORD, raising=False)

    def warnings():
        return [r for r in caplog.records
                if r.levelno == logging.WARNING and "default" in r.getMessage()]

    with caplog.at_level(logging.WARNING, logger="sqoop_spark.credentials"):
        create_credential(ks, "a", "secret")
        assert len(warnings()) == 1
        caplog.clear()
        assert fetch_credential(ks, "a") == "secret"
        assert len(warnings()) == 1
        caplog.clear()
        # a real store password (explicit or from the env) is silent
        create_credential(ks, "b", "x", store_password="hunter2")
        monkeypatch.setenv(ENV_STORE_PASSWORD, "hunter2")
        assert fetch_credential(ks, "b") == "x"
        assert warnings() == []


def test_tampered_entry_fails_closed(tmp_path):
    ks = str(tmp_path / "store.json")
    create_credential(ks, "a", "secret")
    doc = json.load(open(ks))
    c = doc["credentials"]["a"]["cipher"]
    doc["credentials"]["a"]["cipher"] = ("A" if c[0] != "A" else "B") + c[1:]
    json.dump(doc, open(ks, "w"))
    with pytest.raises(CredentialError, match="integrity check failed"):
        fetch_credential(ks, "a")


def test_alias_swap_fails_closed(tmp_path):
    """The MAC binds the alias: transplanting one alias's sealed blob
    onto another (substitution attack) must not verify."""
    ks = str(tmp_path / "store.json")
    create_credential(ks, "dev.db", "devpw")
    create_credential(ks, "prod.db", "prodpw")
    doc = json.load(open(ks))
    doc["credentials"]["prod.db"] = doc["credentials"]["dev.db"]
    json.dump(doc, open(ks, "w"))
    with pytest.raises(CredentialError, match="integrity check failed"):
        fetch_credential(ks, "prod.db")
    assert fetch_credential(ks, "dev.db") == "devpw"  # untouched entry fine


def test_empty_password_still_conflicts(tmp_path):
    """--password '' must conflict with --password-file, not silently
    override it (truthiness bug class)."""
    from sqoop_spark.cli import build_parser, resolve_password

    pf = tmp_path / "pw.txt"
    pf.write_text("filepw\n")
    os.chmod(pf, 0o600)
    args = build_parser().parse_args(
        ["eval", "-e", "SELECT 1", "--password", "", "--password-file", str(pf)]
    )
    with pytest.raises(SystemExit, match="Only one of"):
        resolve_password(args)


def test_lone_empty_password_alias_is_an_error(tmp_path, monkeypatch):
    """A lone --password-alias '' must fail loudly, not fall back to
    $SQOOP_SPARK_PASSWORD (the same truthiness bug class)."""
    from sqoop_spark.cli import PASSWORD_ENV_VAR, build_parser, resolve_password

    monkeypatch.setenv(PASSWORD_ENV_VAR, "from-env")
    ks = str(tmp_path / "store.json")
    create_credential(ks, "db.pw", "hunter2")
    args = build_parser().parse_args(
        ["eval", "-e", "SELECT 1", "--password-alias", "",
         "--credential-provider", ks]
    )
    with pytest.raises(SystemExit, match="non-empty alias"):
        resolve_password(args)


def test_resolve_password_alias_and_exclusivity(tmp_path, monkeypatch):
    from sqoop_spark.cli import resolve_password

    ks = str(tmp_path / "store.json")
    create_credential(ks, "db.pw", "hunter2")
    ns = argparse.Namespace(
        password=None, password_file=None,
        password_alias="db.pw", credential_provider=ks,
    )
    assert resolve_password(ns) == "hunter2"
    # provider via env var (hadoop.security.credential.provider.path analog)
    monkeypatch.setenv(ENV_PROVIDER_PATH, ks)
    ns.credential_provider = None
    assert resolve_password(ns) == "hunter2"
    # mutually exclusive, the reference's applyCredentialsOptions error
    ns2 = argparse.Namespace(
        password="x", password_file=None,
        password_alias="db.pw", credential_provider=ks,
    )
    with pytest.raises(SystemExit, match="Only one of"):
        resolve_password(ns2)
    # missing provider is an explicit error, not a silent None
    monkeypatch.delenv(ENV_PROVIDER_PATH)
    ns.credential_provider = None
    with pytest.raises(SystemExit, match="credential provider"):
        resolve_password(ns)
    # unknown alias fails loudly
    ns3 = argparse.Namespace(
        password=None, password_file=None,
        password_alias="nope", credential_provider=ks,
    )
    with pytest.raises(SystemExit, match="not found"):
        resolve_password(ns3)


def test_credential_cli_roundtrip(tmp_path):
    ks = str(tmp_path / "store.json")
    env = {**os.environ, ENV_PROVIDER_PATH: ks}
    r = subprocess.run(
        [sys.executable, "-m", "sqoop_spark.cli", "credential", "create",
         "db.password"],
        input="tops3cret\n", capture_output=True, text=True,
        cwd=REPO, env=env,
    )
    assert r.returncode == 0, r.stderr
    assert json.loads(r.stdout.strip().splitlines()[-1])["created"] == "db.password"
    r = subprocess.run(
        [sys.executable, "-m", "sqoop_spark.cli", "credential", "list"],
        capture_output=True, text=True, cwd=REPO, env=env,
    )
    assert r.stdout.split() == ["db.password"]
    assert fetch_credential(ks, "db.password") == "tops3cret"
