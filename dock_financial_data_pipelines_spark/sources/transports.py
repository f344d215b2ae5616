"""Real network transports + the SFTP-style landing flow.

The reference's day job is: authenticate with ``requests`` against the
Dock API (REPORT:25-49), wait for the produced file to appear on an SFTP
server (SFTPSensor, REPORT:121-148, ``timeout=60*30``), then copy
SFTP → S3 (REPORT:166-175). This module supplies the production-shaped
counterparts behind the same injectable protocols the fake implements,
so the control plane is swappable with zero changes to the pipeline
code:

- ``RequestsTransport`` — an HTTP ``Transport`` (rest.py protocol)
  backed by ``requests``; session injectable for testing, timeouts and
  HTTP-status mapping included. Driver-side only: the cluster never
  blocks on the API.
- ``RemoteFileSystem`` protocol + ``LocalDirRemote`` (the sandbox
  default) and ``SftpRemote`` (paramiko-backed, import-gated — paramiko
  is absent in this container, so it raises a clear error at
  construction, never at import).
- ``sense_file`` / ``transfer_to_landing`` — the sensor + transfer
  stages with the reference's retry/timeout semantics (3 retries,
  configurable delay — REPORT:21-22 uses 3 × 3 min; tests inject 0).

Landed archives then flow through the existing distributed readers
(``binaryFile`` scan + mapInPandas unzip, readers.py S4) — the data
plane is Spark, the control plane is this thin driver-side layer.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable, Optional, Protocol

from dock_financial_data_pipelines_spark.sources.rest import TransportError


# ---------------------------------------------------------------------------
# HTTP transport (rest.Transport protocol, requests-backed)
# ---------------------------------------------------------------------------
@dataclass
class RequestsTransport:
    """``requests``-backed Transport. ``session`` is injectable so the
    retry/timeout paths are unit-testable without a network; by default a
    real ``requests.Session`` with connection pooling is created."""

    timeout_s: float = 30.0
    session: object = None

    def __post_init__(self) -> None:
        if self.session is None:
            import requests

            self.session = requests.Session()

    def _json(self, resp) -> dict:
        if getattr(resp, "status_code", 200) >= 400:
            raise TransportError(f"HTTP {resp.status_code}")
        try:
            return resp.json()
        except ValueError as exc:
            raise TransportError(f"non-JSON response: {exc}") from exc

    def post(self, url: str, auth: tuple[str, str]) -> dict:
        try:
            resp = self.session.post(
                url,
                data={"grant_type": "client_credentials"},
                auth=auth,
                timeout=self.timeout_s,
            )
        except Exception as exc:  # ConnectionError, Timeout, ...
            raise TransportError(str(exc)) from exc
        return self._json(resp)

    def get(self, url: str, token: str) -> dict:
        try:
            resp = self.session.get(
                url,
                headers={"Authorization": f"Bearer {token}"},
                timeout=self.timeout_s,
            )
        except Exception as exc:
            raise TransportError(str(exc)) from exc
        return self._json(resp)


# ---------------------------------------------------------------------------
# Remote file system (the SFTP side of the reference)
# ---------------------------------------------------------------------------
class RemoteFileSystem(Protocol):
    def listdir(self, path: str) -> list[str]: ...

    def fetch(self, remote_path: str, local_path: str) -> None: ...


@dataclass
class LocalDirRemote:
    """Local-directory-backed remote — the sandbox stand-in for SFTP.
    Production swaps in ``SftpRemote`` with no pipeline change."""

    root: str

    def listdir(self, path: str) -> list[str]:
        full = os.path.join(self.root, path.lstrip("/"))
        return sorted(os.listdir(full)) if os.path.isdir(full) else []

    def fetch(self, remote_path: str, local_path: str) -> None:
        os.makedirs(os.path.dirname(local_path), exist_ok=True)
        shutil.copyfile(os.path.join(self.root, remote_path.lstrip("/")), local_path)


class SftpRemote:
    """paramiko-backed RemoteFileSystem (production). Import-gated: this
    container ships no paramiko, so construction raises a clear error."""

    def __init__(self, host: str, username: str, password: Optional[str] = None,
                 port: int = 22):
        try:
            import paramiko  # noqa: F401
        except ImportError as exc:  # pragma: no cover - env-dependent
            raise RuntimeError(
                "SftpRemote requires paramiko; install it or use LocalDirRemote"
            ) from exc
        import paramiko

        self._transport = paramiko.Transport((host, port))
        self._transport.connect(username=username, password=password)
        self._sftp = paramiko.SFTPClient.from_transport(self._transport)

    def listdir(self, path: str) -> list[str]:  # pragma: no cover - needs network
        return sorted(self._sftp.listdir(path))

    def fetch(self, remote_path: str, local_path: str) -> None:  # pragma: no cover
        os.makedirs(os.path.dirname(local_path), exist_ok=True)
        self._sftp.get(remote_path, local_path)


class S3Remote:
    """Object-store RemoteFileSystem — the S3 side of the reference's
    SFTP→S3 copy (REPORT:166-178), restated behind the same protocol so
    the sensor/transfer stages are storage-agnostic.

    ``client`` is injectable (any object with ``list_objects_v2`` /
    ``download_file`` / ``upload_file``) so the flow is unit-testable
    with a fake; with no client it is boto3-gated exactly like
    ``SftpRemote`` is paramiko-gated — a clear construction-time error
    in this no-network sandbox, a standard ``boto3.client("s3")`` in
    production. The *data plane* never goes through this class: Spark
    reads/writes ``s3a://`` URIs natively (see ``sinks.SinkLocation`` /
    ``sinks.s3a_conf``); this is the driver-side control plane for
    landing small upstream archives."""

    def __init__(self, bucket: str, prefix: str = "", client: object = None):
        if client is None:  # pragma: no cover - env-dependent
            try:
                import boto3
            except ImportError as exc:
                raise RuntimeError(
                    "S3Remote requires boto3; install it, inject a client, "
                    "or use LocalDirRemote"
                ) from exc
            client = boto3.client("s3")
        self._bucket = bucket
        self._prefix = prefix.strip("/")
        self._client = client

    def _key(self, path: str) -> str:
        parts = [p for p in (self._prefix, path.strip("/")) if p]
        return "/".join(parts)

    def listdir(self, path: str) -> list[str]:
        prefix = self._key(path)
        prefix = prefix + "/" if prefix else ""
        names: list[str] = []
        token: Optional[str] = None
        while True:  # paginate: object listings are capped at 1000 keys
            kwargs = {"Bucket": self._bucket, "Prefix": prefix}
            if token:
                kwargs["ContinuationToken"] = token
            resp = self._client.list_objects_v2(**kwargs)
            for obj in resp.get("Contents", []):
                rel = obj["Key"][len(prefix):]
                if rel and "/" not in rel:  # direct children only
                    names.append(rel)
            if not resp.get("IsTruncated"):
                return sorted(names)
            token = resp.get("NextContinuationToken")

    def fetch(self, remote_path: str, local_path: str) -> None:
        os.makedirs(os.path.dirname(local_path), exist_ok=True)
        self._client.download_file(self._bucket, self._key(remote_path), local_path)

    def put(self, local_path: str, remote_path: str) -> None:
        """Publish direction (landing → bucket), used by idempotent
        publish steps; S3 PUT is atomic per object, so a re-run simply
        rewrites the same key."""
        self._client.upload_file(local_path, self._bucket, self._key(remote_path))


# ---------------------------------------------------------------------------
# Sensor + transfer stages
# ---------------------------------------------------------------------------
@dataclass
class Sensor:
    """The SFTP sensor restated (REPORT:121-148): poll ``remote`` until a
    file matching ``predicate`` exists, with bounded attempts and an
    injectable sleep (the reference polls for up to 30 min)."""

    remote: RemoteFileSystem
    path: str = "upload"
    attempts: int = 10
    delay_s: float = 0.0
    sleep: Callable[[float], None] = field(default=time.sleep)

    def wait_for(self, predicate: Callable[[str], bool]) -> str:
        for attempt in range(self.attempts):
            for name in self.remote.listdir(self.path):
                if predicate(name):
                    return os.path.join(self.path, name)
            if attempt + 1 < self.attempts and self.delay_s:
                self.sleep(self.delay_s)
        raise TimeoutError(
            f"no file matching predicate appeared in {self.path} "
            f"after {self.attempts} polls"
        )


def transfer_to_landing(
    remote: RemoteFileSystem,
    remote_path: str,
    landing_dir: str,
    retries: int = 3,
    delay_s: float = 0.0,
) -> str:
    """SFTP→landing copy with the reference's retry policy
    (REPORT:21-22: retries=3, delay=3 min; delay injectable)."""
    local_path = os.path.join(landing_dir, os.path.basename(remote_path))
    last: Exception | None = None
    for _ in range(retries + 1):
        try:
            remote.fetch(remote_path, local_path)
            return local_path
        except OSError as exc:
            last = exc
            if delay_s:
                time.sleep(delay_s)
    raise last  # type: ignore[misc]


# ---------------------------------------------------------------------------
# R — the full landing flow as a registered query: sense → transfer →
# distributed unzip → aggregate. The "remote SFTP server" is the ZIP
# fixture directory served through LocalDirRemote; the aggregate equals
# the documents table, so the whole flow is hash-checked against SQL.
# ---------------------------------------------------------------------------
def _register_query() -> None:
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    from dock_financial_data_pipelines_spark.registry import query
    from dock_financial_data_pipelines_spark.scratch import work_dir
    from dock_financial_data_pipelines_spark.sources.readers import (
        _build_zip_fixture,
        unzip_binary_files,
    )

    @query(
        "r_sftp_landing_flow",
        oracle="""
        SELECT count(*) AS n_entries,
               CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
               count(DISTINCT doc_id) AS n_docs
        FROM documents
        """,
    )
    def r_sftp_landing_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql.types import (
            BinaryType,
            StringType,
            StructField,
            StructType,
        )

        zip_dir = _build_zip_fixture(spark, sf_dir)
        remote = LocalDirRemote(root=os.path.dirname(zip_dir))
        remote_dir = os.path.basename(zip_dir)

        # An empty document corpus produces no archives to land: the
        # flow's day is simply empty (the sensor contract — failing when
        # an EXPECTED file never lands — is exercised by the transport
        # tests; a day with nothing to publish is not that case).
        has_zips = any(
            n.endswith(".zip") for n in remote.listdir(remote_dir)
        )
        bin_schema = StructType(
            [StructField("path", StringType()),
             StructField("content", BinaryType())]
        )
        if not has_zips:
            binary = spark.createDataFrame([], bin_schema)
        else:
            sensor = Sensor(remote=remote, path=remote_dir, attempts=3)
            sensor.wait_for(lambda name: name.endswith(".zip"))

            landing = work_dir(sf_dir, "landing")
            for name in remote.listdir(remote_dir):
                if name.endswith(".zip"):
                    transfer_to_landing(
                        remote, os.path.join(remote_dir, name), landing
                    )

            binary = (
                spark.read.format("binaryFile")
                .option("pathGlobFilter", "*.zip")
                .load(landing)
                .select("path", "content")
            )
        return unzip_binary_files(binary).agg(
            F.count(F.lit(1)).alias("n_entries"),
            F.sum("entry_bytes").alias("total_bytes"),
            F.countDistinct("entry_name").alias("n_docs"),
        )


_register_query()
