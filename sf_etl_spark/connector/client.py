"""Salesforce-style REST + Bulk API 2.0 client (pure stdlib, no pip deps).

Re-expresses the reference's ``oxidized-force`` crate
(`/root/reference/oxidized-force/src/client.rs`) with its two known
gaps fixed:

* **Pagination** — the reference fetches a single page per SOQL query
  (``client.rs:199-205``; ``nextRecordsUrl`` is never followed,
  ``response.rs:7-9``). :meth:`SfClient.query_pages` follows the
  cursor to exhaustion.
* **Bulk results download** — the reference creates/polls/aborts bulk
  jobs but never downloads results (``client.rs:215-243``; no
  ``/results`` call exists). :meth:`SfClient.download_results` walks
  the ``Sforce-Locator`` chunk chain, and exposes offset-addressed
  chunk fetch for parallel extraction (see ``datasource.py``).

Transport is ``urllib`` with bounded exponential-backoff retries on
transient failures — the retry policy the reference's typed error enum
implies but never implements (``errors.rs:3-27``).
"""

from __future__ import annotations

import json
import math
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass, field
from enum import Enum
from typing import Any

from sf_etl_spark.connector.errors import (
    ClientBuilderError,
    HttpError,
    JobFailedError,
    NotAuthenticatedError,
    ResponseError,
    TokenError,
)
from sf_etl_spark.schema.field_types import ObjectSchema

DEFAULT_API_VERSION = "v49.0"  # reference default, client.rs:56
_RETRYABLE_STATUSES = {429, 500, 502, 503, 504}
# Honor server-provided Retry-After up to this many seconds; anything
# longer falls back to it capped (a misconfigured proxy must not be
# able to park an executor task for an hour on one header)
_RETRY_AFTER_CAP = 30.0
# Guards the transport counters of every client: one client serves all
# threads of its process through the datasource's client cache. Kept
# off the instance so clients stay picklable.
_COUNTERS_LOCK = threading.Lock()


class JobState(str, Enum):
    """Bulk job lifecycle (``response.rs:47-54``; ``Open`` is the
    ingest-side initial state the extract-only reference never
    sees — an ingest job is Open until its CSV upload is closed)."""

    OPEN = "Open"
    UPLOAD_COMPLETE = "UploadComplete"
    IN_PROGRESS = "InProgress"
    ABORTED = "Aborted"
    JOB_COMPLETE = "JobComplete"
    FAILED = "Failed"

    @property
    def terminal(self) -> bool:
        return self in (JobState.ABORTED, JobState.JOB_COMPLETE, JobState.FAILED)


@dataclass(frozen=True)
class BulkJob:
    """Bulk query job status (``response.rs:30-44``)."""

    id: str
    state: JobState
    object: str | None = None
    operation: str | None = None
    content_type: str | None = None
    line_ending: str | None = None
    column_delimiter: str | None = None
    # informational only (like the reference's deserialized-but-unused
    # field, ``response.rs:39``): Bulk 2.0 query jobs always run
    # Parallel; surfaced as a typed field so callers need not dig
    # through ``raw``
    concurrency_mode: str | None = None
    number_records_processed: int | None = None
    # ingest-leg fields (insert/upsert/delete jobs): partial failures
    # are the NORMAL outcome of a big load, not an exception
    number_records_failed: int | None = None
    external_id_field: str | None = None
    raw: dict[str, Any] = field(default_factory=dict, repr=False)

    @classmethod
    def from_json(cls, obj: dict[str, Any]) -> "BulkJob":
        return cls(
            id=obj["id"],
            state=JobState(obj["state"]),
            object=obj.get("object"),
            operation=obj.get("operation"),
            content_type=obj.get("contentType"),
            line_ending=obj.get("lineEnding"),
            column_delimiter=obj.get("columnDelimiter"),
            concurrency_mode=obj.get("concurrencyMode"),
            number_records_processed=obj.get("numberRecordsProcessed"),
            number_records_failed=obj.get("numberRecordsFailed"),
            external_id_field=obj.get("externalIdFieldName"),
            raw=obj,
        )


@dataclass(frozen=True)
class QueryPage:
    """One page of a SOQL result (``QueryResponse<T>``, ``response.rs:4-10``)."""

    total_size: int
    done: bool
    records: list[dict[str, Any]]
    next_records_url: str | None = None


@dataclass(frozen=True)
class ResultChunk:
    """One CSV chunk of a bulk job's results."""

    csv_text: str
    locator: str | None  # next-chunk cursor (Sforce-Locator header); None = done
    number_of_records: int | None = None


class SfClient:
    """Async-free, retrying Salesforce REST/Bulk client.

    Construction validates required settings up front, like the
    reference's builder (``client.rs:99-135`` → ``ClientBuilderError``).
    """

    def __init__(
        self,
        client_id: str,
        client_secret: str,
        login_url: str,
        api_version: str = DEFAULT_API_VERSION,
        timeout: float = 30.0,
        max_retries: int = 3,
        backoff_base: float = 0.2,
        call_options: str | None = None,
    ):
        if not client_id or not client_secret:
            raise ClientBuilderError("client_id and client_secret are required")
        self.client_id = client_id
        self.client_secret = client_secret
        self.login_url = login_url.rstrip("/")
        self.api_version = api_version
        self.timeout = timeout
        self.max_retries = max_retries
        self.backoff_base = backoff_base
        # Sforce-Call-Options (e.g. "client=sf_etl_spark"): rides every
        # request so org admins can attribute API usage per integration
        # — the first thing support asks for when a load gets throttled
        self.call_options = call_options
        self.access_token: str | None = None
        self.instance_url: str | None = None
        # Credentials retained after login() so an expired session
        # (401 INVALID_SESSION_ID mid-extraction) can be refreshed
        # transparently — long-running partitioned scans outlive
        # Salesforce session TTLs routinely. They are held as a
        # zero-arg PROVIDER callable, never as plain attributes: a
        # plain `_password` attribute leaks through vars()/pickle/
        # debug dumps of client objects shipped to executors. Callers
        # holding secrets in a vault can swap in their own provider
        # via set_credential_provider() and login() won't capture the
        # literal at all.
        self._credential_provider: Callable[[], tuple[str, str]] | None = None
        # distinguishes a caller-installed vault provider (never
        # overwritten) from the login()-captured fallback (refreshed
        # on every successful login so rotation works)
        self._provider_is_custom = False
        # Transport counters, cumulative over this client's life: HTTP
        # attempts sent, attempts retried after a transient failure, 429
        # responses received, and seconds slept between retries.
        self.requests = 0
        self.retries = 0
        self.http_429 = 0
        self.backoff_s = 0.0

    def set_credential_provider(
        self, provider: Callable[[], tuple[str, str]] | None
    ) -> None:
        """Install a ``() -> (username, password)`` source for 401
        re-login, replacing whatever ``login()`` captured. Pass a
        vault/keyring lookup here to keep the password out of the
        client object entirely. Passing ``None`` reverts to
        login()-captured credentials."""
        self._credential_provider = provider
        self._provider_is_custom = provider is not None

    def __repr__(self) -> str:  # secrets never repr out
        return (
            f"{type(self).__name__}(client_id={self.client_id!r}, "
            f"client_secret='***', login_url={self.login_url!r}, "
            f"api_version={self.api_version!r}, "
            f"authenticated={self.access_token is not None})"
        )

    # -- transport ---------------------------------------------------------

    def _base_path(self) -> str:
        # base_path computation mirrors client.rs:175-179
        if self.access_token is None or self.instance_url is None:
            raise NotAuthenticatedError("call login() first")
        return f"{self.instance_url}/services/data/{self.api_version}"

    def _request(
        self,
        method: str,
        url: str,
        body: bytes | None = None,
        headers: dict[str, str] | None = None,
        want_headers: bool = False,
    ) -> tuple[int, bytes, dict[str, str]]:
        hdrs = {"Accept": "application/json"}
        if self.access_token:
            hdrs["Authorization"] = f"Bearer {self.access_token}"
        if self.call_options:
            hdrs["Sforce-Call-Options"] = self.call_options
        if headers:
            hdrs.update(headers)
        last_err: Exception | None = None
        refreshed = False
        attempt = 0
        while attempt <= self.max_retries:
            req = urllib.request.Request(url, data=body, headers=hdrs, method=method)
            retry_after: float | None = None
            with _COUNTERS_LOCK:
                self.requests += 1
            try:
                with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                    return resp.status, resp.read(), dict(resp.headers.items())
            except urllib.error.HTTPError as e:
                payload = e.read()
                if e.code == 429:
                    with _COUNTERS_LOCK:
                        self.http_429 += 1
                if (
                    e.code == 401
                    and not refreshed
                    and self._credential_provider is not None
                    and "Authorization" in hdrs
                    and "/services/oauth2/token" not in url
                ):
                    # Session expired mid-flight: re-run the password
                    # grant ONCE and replay with the fresh token. The
                    # token endpoint itself never carries Authorization
                    # with stored creds pre-login, and `refreshed`
                    # guards the replay, so this cannot recurse. The
                    # replay does NOT consume a retry attempt (and skips
                    # the backoff sleep): a refresh succeeding on the
                    # final attempt must still get its replay.
                    refreshed = True
                    self.login(*self._credential_provider())
                    hdrs["Authorization"] = f"Bearer {self.access_token}"
                    continue
                if e.code in _RETRYABLE_STATUSES and attempt < self.max_retries:
                    last_err = e
                    # Rate limiting (429, sometimes 503) arrives with a
                    # server-chosen Retry-After; honoring it (capped)
                    # beats blind exponential backoff — the server
                    # knows when the bucket refills. Total retry time
                    # stays bounded: max_retries sleeps of at most
                    # max(cap, backoff_base * 2^max_retries) each.
                    ra = e.headers.get("Retry-After") if e.headers else None
                    if ra:
                        try:
                            val = float(ra)
                            # guard NaN/inf: they'd flow through min/max
                            # into time.sleep and crash the task
                            retry_after = (
                                min(val, _RETRY_AFTER_CAP)
                                if math.isfinite(val)
                                else None
                            )
                        except ValueError:
                            retry_after = None  # HTTP-date form: use backoff
                else:
                    raise self._response_error(e.code, payload) from None
            except urllib.error.URLError as e:
                last_err = e
            delay = self.backoff_base * (2**attempt)
            if retry_after is not None:
                delay = max(retry_after, 0.0)
            time.sleep(delay)
            with _COUNTERS_LOCK:
                self.retries += 1
                self.backoff_s += delay
            attempt += 1
        raise HttpError(f"{method} {url} failed after {self.max_retries + 1} attempts: {last_err}")

    @staticmethod
    def _response_error(status: int, payload: bytes) -> ResponseError:
        # Error wire shape: [{"message": ..., "errorCode": ...}] (response.rs:88-94)
        try:
            parsed = json.loads(payload.decode("utf-8", "replace"))
            if isinstance(parsed, list) and parsed:
                parsed = parsed[0]
            return ResponseError(
                status, parsed.get("errorCode"), parsed.get("message", str(parsed))
            )
        except (ValueError, AttributeError):
            return ResponseError(status, None, payload.decode("utf-8", "replace")[:500])

    def _get_json(self, url: str) -> dict[str, Any]:
        _, payload, _ = self._request("GET", url)
        return json.loads(payload)

    def _send_json(self, method: str, url: str, obj: dict[str, Any]) -> dict[str, Any]:
        body = json.dumps(obj).encode()
        _, payload, _ = self._request(
            method, url, body=body, headers={"Content-Type": "application/json"}
        )
        return json.loads(payload)

    # -- auth (R1, client.rs:144-188) --------------------------------------

    def login(self, username: str, password: str) -> None:
        """OAuth2 password-grant handshake; stores token + instance URL."""
        form = urllib.parse.urlencode(
            {
                "grant_type": "password",
                "client_id": self.client_id,
                "client_secret": self.client_secret,
                "username": username,
                "password": password,
            }
        ).encode()
        try:
            _, payload, _ = self._request(
                "POST",
                f"{self.login_url}/services/oauth2/token",
                body=form,
                headers={"Content-Type": "application/x-www-form-urlencoded"},
            )
        except ResponseError as e:
            raise TokenError(f"token endpoint rejected credentials: {e}") from None
        tok = json.loads(payload)
        self.access_token = tok["access_token"]
        self.instance_url = tok["instance_url"].rstrip("/")
        # keep refresh working unless the caller installed their own
        # provider; the closure keeps the secret out of the attribute
        # namespace. login()-captured providers are REPLACED on every
        # successful login — after a password rotation, the 401
        # refresh must replay the credentials that just worked, not
        # the first login's stale ones (which would fail repeatedly
        # and can lock the account).
        if not self._provider_is_custom:
            self._credential_provider = lambda: (username, password)

    # -- SOQL query scan (R2, client.rs:199-205) ---------------------------

    def _pages(self, url: str) -> Iterator[dict[str, Any]]:
        """GET *url*, then each ``nextRecordsUrl`` until ``done`` — the
        pagination walk the reference lacks, shared by SOQL queries
        and the ingest job list."""
        while True:
            obj = self._get_json(url)
            yield obj
            nxt = obj.get("nextRecordsUrl")
            if obj.get("done", True) or not nxt:
                return
            assert self.instance_url is not None
            url = f"{self.instance_url}{nxt}"

    def query_pages(self, soql: str) -> Iterator[QueryPage]:
        """Yield every page of a SOQL query, following ``nextRecordsUrl``
        until ``done``."""
        url = f"{self._base_path()}/query?{urllib.parse.urlencode({'q': soql})}"
        for obj in self._pages(url):
            yield QueryPage(
                total_size=obj.get("totalSize", 0),
                done=obj.get("done", True),
                records=[
                    {k: v for k, v in r.items() if k != "attributes"}
                    for r in obj.get("records", [])
                ],
                next_records_url=obj.get("nextRecordsUrl"),
            )

    def query(self, soql: str) -> list[dict[str, Any]]:
        """All records of a SOQL query (every page, flattened)."""
        return [r for page in self.query_pages(soql) for r in page.records]

    # -- schema introspection (R3, client.rs:208-212) ----------------------

    def describe(self, object_name: str) -> ObjectSchema:
        """GET ``/sobjects/{name}/describe`` → ordered :class:`ObjectSchema`."""
        obj = self._get_json(f"{self._base_path()}/sobjects/{object_name}/describe")
        return ObjectSchema.from_describe_json(obj)

    # -- bulk extract lifecycle (R4-R7, client.rs:215-243) -----------------

    def create_query_job(
        self, from_object: str, fields: Sequence[str], where: str | None = None
    ) -> BulkJob:
        """POST ``/jobs/query`` with a field-list SELECT (R4's projection
        builder, ``client.rs:217``), plus the WHERE pushdown the
        partitioned reader uses for PK-range splits."""
        soql = f"SELECT {', '.join(fields)} FROM {from_object}"
        if where:
            soql += f" WHERE {where}"
        obj = self._send_json(
            "POST", f"{self._base_path()}/jobs/query", {"operation": "query", "query": soql}
        )
        return BulkJob.from_json(obj)

    def get_query_job_status(self, job_id: str) -> BulkJob:
        return BulkJob.from_json(self._get_json(f"{self._base_path()}/jobs/query/{job_id}"))

    def abort_query_job(self, job_id: str) -> BulkJob:
        """PATCH state=Aborted; legal only from UploadComplete/InProgress
        (``client.rs:236-243``)."""
        obj = self._send_json(
            "PATCH", f"{self._base_path()}/jobs/query/{job_id}", {"state": "Aborted"}
        )
        return BulkJob.from_json(obj)

    def wait_for_job(self, job_id: str, timeout: float = 300.0) -> BulkJob:
        """The poll loop the reference leaves to callers (SURVEY §3 E3.3):
        poll a query job to a terminal state (see :meth:`_poll_jobs`)."""
        return self._poll_jobs(self.get_query_job_status, [job_id], timeout)[job_id]

    #: pending-set size above which a status sweep goes through the
    #: paginated job-LIST endpoint (N statuses per page request)
    #: instead of one GET per job — per-job polling of a thousand-job
    #: fan-out would itself burn the org's request bucket every sweep
    _SWEEP_VIA_LIST_THRESHOLD = 8

    def _poll_jobs(
        self,
        status_fn: Callable[[str], BulkJob],
        job_ids: Sequence[str],
        timeout: float,
        list_fn: Callable[[], list[BulkJob]] | None = None,
    ) -> dict[str, BulkJob]:
        """Round-robin poll of every job in *job_ids* to a terminal state.

        One status sweep per sleep across every still-pending job, so
        the wall-clock of an N-job wait is bounded by the SLOWEST job
        (plus one sweep), not N × the sleep. With *list_fn*, a pending
        set larger than ``_SWEEP_VIA_LIST_THRESHOLD`` sweeps via the
        paginated job list (one request per page, not per job);
        stragglers the list misses fall back to per-id GETs. Raises on
        the first Failed job, and when the shared *timeout* deadline
        passes with jobs still pending.

        Cadence: the first sleep is 0.02 s and each sweep that leaves a
        job pending sleeps 1.5× longer, capped at 10 s — a job that
        completes at once costs one short sleep, and a real Bulk job
        running minutes costs tens of status polls, not thousands.
        """
        pending = list(dict.fromkeys(j for j in job_ids if j))
        done: dict[str, BulkJob] = {}
        deadline = time.monotonic() + timeout
        sleep_for = 0.02
        while pending:
            listed: dict[str, BulkJob] = {}
            if list_fn is not None and len(pending) > self._SWEEP_VIA_LIST_THRESHOLD:
                listed = {j.id: j for j in list_fn()}
            still_pending: list[str] = []
            for jid in pending:
                job = listed.get(jid) or status_fn(jid)
                if job.state == JobState.FAILED:
                    raise JobFailedError(
                        f"bulk job {jid} failed: {job.raw.get('errorMessage')}"
                    )
                if job.state.terminal:
                    done[jid] = job
                else:
                    still_pending.append(jid)
            pending = still_pending
            if pending:
                if time.monotonic() > deadline:
                    raise HttpError(
                        f"{len(pending)} bulk jobs not terminal after "
                        f"{timeout}s (first: {pending[:5]})"
                    )
                time.sleep(sleep_for)
                sleep_for = min(sleep_for * 1.5, 10.0)
        return done

    # -- bulk ingest lifecycle (the LOAD leg the extract-only reference
    # never ships; Bulk API 2.0 ingest wire shape) --------------------------

    def create_ingest_job(
        self,
        object_name: str,
        operation: str = "insert",
        external_id_field: str | None = None,
    ) -> BulkJob:
        """POST ``/jobs/ingest`` — open a CSV ingest job (state Open).

        ``operation`` is insert/upsert/delete; upsert requires
        ``external_id_field`` (Bulk 2.0 ``externalIdFieldName``) and is
        the idempotent primitive exactly-once loads build on.
        """
        body = {
            "object": object_name,
            "operation": operation,
            "contentType": "CSV",
            "lineEnding": "LF",
        }
        if external_id_field is not None:
            body["externalIdFieldName"] = external_id_field
        obj = self._send_json("POST", f"{self._base_path()}/jobs/ingest", body)
        return BulkJob.from_json(obj)

    def upload_ingest_batch(self, job_id: str, csv_text: str) -> None:
        """PUT ``/jobs/ingest/{id}/batches`` — the job's ONE CSV payload.
        Bulk 2.0 takes a single upload per job; parallel loads use
        parallel JOBS, which is exactly how the Spark writer maps one
        job per partition."""
        self._request(
            "PUT",
            f"{self._base_path()}/jobs/ingest/{job_id}/batches",
            body=csv_text.encode("utf-8"),
            headers={"Content-Type": "text/csv"},
        )

    def close_ingest_job(self, job_id: str) -> BulkJob:
        """PATCH state=UploadComplete — hands the uploaded CSV to the
        server for asynchronous processing."""
        obj = self._send_json(
            "PATCH", f"{self._base_path()}/jobs/ingest/{job_id}", {"state": "UploadComplete"}
        )
        return BulkJob.from_json(obj)

    def abort_ingest_job(self, job_id: str) -> BulkJob:
        """PATCH state=Aborted — legal while Open/UploadComplete; an
        aborted ingest job's rows are never applied."""
        obj = self._send_json(
            "PATCH", f"{self._base_path()}/jobs/ingest/{job_id}", {"state": "Aborted"}
        )
        return BulkJob.from_json(obj)

    def get_ingest_job_status(self, job_id: str) -> BulkJob:
        return BulkJob.from_json(self._get_json(f"{self._base_path()}/jobs/ingest/{job_id}"))

    def wait_for_ingest_job(self, job_id: str, timeout: float = 300.0) -> BulkJob:
        return self.wait_for_ingest_jobs([job_id], timeout)[job_id]

    def wait_for_ingest_jobs(
        self, job_ids: Sequence[str], timeout: float = 3600.0
    ) -> dict[str, BulkJob]:
        """Poll MANY ingest jobs to a terminal state (see
        :meth:`_poll_jobs`). The ``timeout`` deadline covers the whole
        SET (default 1 h — it bounds total commit wait, not one job, so
        it must absorb org-side queueing of the entire load)."""
        return self._poll_jobs(
            self.get_ingest_job_status, job_ids, timeout, list_fn=self.list_ingest_jobs
        )

    def get_ingest_failed_results(self, job_id: str) -> str:
        """GET ``/jobs/ingest/{id}/failedResults`` — CSV of the rows the
        backend rejected (``sf__Id,sf__Error`` + the original columns).
        Real loads hit partial failures constantly; a loader that can't
        retrieve them silently drops data."""
        _, payload, _ = self._request(
            "GET",
            f"{self._base_path()}/jobs/ingest/{job_id}/failedResults",
            headers={"Accept": "text/csv"},
        )
        return payload.decode("utf-8")

    def get_ingest_successful_results(self, job_id: str) -> str:
        """GET ``/jobs/ingest/{id}/successfulResults`` — CSV of the rows
        the backend APPLIED (``sf__Id,sf__Created`` + the original
        columns). This is how a loader learns the server-assigned Ids
        of what it just inserted — the read-back every downstream
        keyed operation (delete, update, FK wiring) builds on."""
        _, payload, _ = self._request(
            "GET",
            f"{self._base_path()}/jobs/ingest/{job_id}/successfulResults",
            headers={"Accept": "text/csv"},
        )
        return payload.decode("utf-8")

    def get_ingest_unprocessed_records(self, job_id: str) -> str:
        """GET ``/jobs/ingest/{id}/unprocessedrecords`` — CSV of rows
        the backend never attempted (job failed at the job level or
        was aborted mid-stream): the retry set for a resumable loader,
        distinct from ROW rejects (failedResults)."""
        _, payload, _ = self._request(
            "GET",
            f"{self._base_path()}/jobs/ingest/{job_id}/unprocessedrecords",
            headers={"Accept": "text/csv"},
        )
        return payload.decode("utf-8")

    def list_ingest_jobs(self) -> list[BulkJob]:
        """GET ``/jobs/ingest`` — enumerate ingest jobs (lets a caller
        sweep failed results without having tracked every job id).

        Follows ``nextRecordsUrl`` until ``done`` — the real job-list
        endpoint paginates, and a truncated sweep would silently skip
        whatever failed past page 1 (r11 ADVICE)."""
        url = f"{self._base_path()}/jobs/ingest"
        return [BulkJob.from_json(r) for obj in self._pages(url) for r in obj.get("records", [])]

    def get_result_chunk(
        self, job_id: str, locator: str | None = None, max_records: int | None = None
    ) -> ResultChunk:
        """Fetch one CSV chunk of a completed job's results.

        ``locator`` is the opaque cursor from the previous chunk's
        ``Sforce-Locator`` header (None = first chunk). This is the
        results-download stage missing from the reference entirely.
        """
        params: dict[str, str] = {}
        if locator:
            params["locator"] = locator
        if max_records:
            params["maxRecords"] = str(max_records)
        url = f"{self._base_path()}/jobs/query/{job_id}/results"
        if params:
            url += "?" + urllib.parse.urlencode(params)
        _, payload, headers = self._request("GET", url, headers={"Accept": "text/csv"})
        loc = headers.get("Sforce-Locator")
        if loc in (None, "", "null"):
            loc = None
        nrec = headers.get("Sforce-NumberOfRecords")
        return ResultChunk(
            csv_text=payload.decode("utf-8"),
            locator=loc,
            number_of_records=int(nrec) if nrec else None,
        )

    def download_results(
        self, job_id: str, max_records: int | None = None
    ) -> Iterator[ResultChunk]:
        """Walk the full ``Sforce-Locator`` chunk chain of a completed job."""
        locator: str | None = None
        while True:
            chunk = self.get_result_chunk(job_id, locator=locator, max_records=max_records)
            yield chunk
            if chunk.locator is None:
                return
            locator = chunk.locator
