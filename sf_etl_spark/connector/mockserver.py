"""In-process mock of the Salesforce REST + Bulk 2.0 endpoints.

Plays the role of the reference's ``mockito`` harness
(`oxidized-force/src/client.rs:412-496`) but as a real HTTP server so
Spark *executor tasks* can hit it concurrently — the canonical
response shapes (token / query / describe / job) follow FIXTURES.md §A.

The dataset defaults to a deterministic fake ``Case`` table but any
(object_name, fields, rows) triple can be served; query results
paginate via ``nextRecordsUrl`` and bulk results chunk via
offset-addressed ``Sforce-Locator`` headers, so both reference gaps
(no pagination, no results download) are exercised.

Lives in the package (not tests/) because the ``sfetl`` DataSource's
verification lane (`queries/sink_roundtrip.py:source_sfetl_roundtrip`)
stages fixture rows behind it at driver-correctness time — the same
embedded-stand-in pattern as the Derby-backed JDBC lane.
"""

from __future__ import annotations

import csv
import io
import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

API = "/services/data/v49.0"

CASE_FIELDS = [
    # (name, type, length, extra)
    {"name": "Id", "type": "id", "length": 18, "nillable": False, "unique": True},
    {"name": "AccountId", "type": "reference", "length": 18, "relationshipName": "Account"},
    {"name": "CaseNumber", "type": "string", "length": 30},
    {"name": "Priority", "type": "picklist", "length": 20},
    {"name": "Tags", "type": "multipicklist", "length": 200},
    {"name": "Amount", "type": "currency", "precision": 10, "scale": 2},
    {"name": "IsEscalated", "type": "boolean"},
    {"name": "NumCalls", "type": "int"},
    {"name": "CreatedDate", "type": "datetime"},
    {"name": "Payload", "type": "anyType"},
]


def make_cases(n: int) -> list[dict]:
    rows = []
    for i in range(n):
        rows.append(
            {
                "Id": f"500{i:015d}",
                "AccountId": f"001{i % 7:015d}",
                "CaseNumber": f"CASE-{i:06d}",
                "Priority": ["Low", "Medium", "High"][i % 3],
                "Tags": "red;blue" if i % 2 else "green",
                "Amount": f"{(i * 3.5 + 0.25):.2f}",
                "IsEscalated": "true" if i % 5 == 0 else "false",
                "NumCalls": str(i % 11),
                "CreatedDate": f"2024-01-{(i % 28) + 1:02d}T12:00:00.000Z",
                "Payload": json.dumps({"k": i}),
            }
        )
    return rows


class MockSalesforce:
    """Server state: auth expectations, dataset, bulk-job registry."""

    def __init__(
        self,
        n_rows: int = 95,
        page_size: int = 20,
        fail_first_polls: int = 1,
        column_delimiter: str = "COMMA",
        line_ending: str = "LF",
        object_name: str = "Case",
        fields: list[dict] | None = None,
        rows: list[dict] | None = None,
        job_page_size: int = 200,
    ):
        self.page_size = page_size
        self.fail_first_polls = fail_first_polls  # polls returning InProgress
        # GET /jobs/ingest paginates like the real endpoint; tests set
        # a small page size to prove the client walks nextRecordsUrl
        self.job_page_size = job_page_size
        # rate-limit injection: the next N authorized requests 429 with
        # a Retry-After header (tests simulate an API-bucket exhaustion
        # burst; the client must honor the header and recover)
        self.inject_429_remaining = 0
        self.retry_after_seconds = 0.05
        self.n_429_served = 0
        self.object_name = object_name
        self.fields_meta = fields if fields is not None else CASE_FIELDS
        # bulk CSV dialect the server declares AND writes (jobs created
        # with non-default dialects exist in the wild; the scan reader
        # must honor the declared metadata, response.rs:37-38 parity)
        self.column_delimiter = column_delimiter
        self.line_ending = line_ending
        self.rows = rows if rows is not None else make_cases(n_rows)
        self.n_rows = len(self.rows)
        self.jobs: dict[str, dict] = {}
        self.cursors: dict[int, tuple[str, int]] = {}
        self.lock = threading.Lock()
        self.requests_seen: list[str] = []
        self.server: ThreadingHTTPServer | None = None
        # Rotatable session token: tests flip this to simulate server-
        # side session expiry (the old bearer then 401s; a fresh
        # password grant returns the new value).
        self.valid_token = "MOCK_TOKEN"
        self.logins = 0

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> str:
        state = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # silence
                pass

            def _send(self, code, payload, headers=None, content_type="application/json"):
                body = payload if isinstance(payload, bytes) else payload.encode()
                self.send_response(code)
                self.send_header("Content-Type", content_type)
                self.send_header("Content-Length", str(len(body)))
                for k, v in (headers or {}).items():
                    self.send_header(k, v)
                self.end_headers()
                self.wfile.write(body)

            def _json(self, code, obj, headers=None):
                self._send(code, json.dumps(obj), headers)

            def _record_and_route(self, method):
                with state.lock:
                    state.requests_seen.append(f"{method} {self.path}")
                try:
                    state.route(self, method)
                except Exception as e:  # surface handler bugs as 500s
                    self._json(500, [{"errorCode": "MOCK_BUG", "message": repr(e)}])

            def do_GET(self):
                self._record_and_route("GET")

            def do_POST(self):
                self._record_and_route("POST")

            def do_PATCH(self):
                self._record_and_route("PATCH")

            def do_PUT(self):
                self._record_and_route("PUT")

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        # poll_interval: serve_forever's shutdown-flag poll gates how
        # long stop() blocks — the 0.5 s default cost every sfetl lane
        # ~0.35 s of pure teardown sleep (r16 profile); requests are
        # select()-driven either way, so a tight poll costs nothing.
        threading.Thread(
            target=lambda: self.server.serve_forever(poll_interval=0.02),
            daemon=True,
        ).start()
        host, port = self.server.server_address
        return f"http://{host}:{port}"

    def stop(self):
        if self.server:
            self.server.shutdown()
            self.server.server_close()

    # -- routing -----------------------------------------------------------

    def route(self, h, method: str):
        parsed = urlparse(h.path)
        path, qs = parsed.path, parse_qs(parsed.query)

        if method == "POST" and path == "/services/oauth2/token":
            body = h.rfile.read(int(h.headers.get("Content-Length", 0))).decode()
            form = parse_qs(body)
            if form.get("client_secret", [""])[0] != "shhh":
                return h._json(400, {"error": "invalid_client", "error_description": "bad secret"})
            self.logins += 1
            self.last_password = form.get("password", [""])[0]
            return h._json(
                200,
                {
                    "access_token": self.valid_token,
                    "instance_url": f"http://{h.headers['Host']}",
                    "id": "https://login.salesforce.test/id/00D/005",
                    "token_type": "Bearer",
                    "issued_at": "1718000000000",
                    "signature": "sig==",
                },
            )

        # everything below requires the bearer token
        if h.headers.get("Authorization") != f"Bearer {self.valid_token}":
            return h._json(401, [{"errorCode": "INVALID_SESSION_ID", "message": "no session"}])

        # injected rate-limit burst (REQUEST_LIMIT_EXCEEDED semantics):
        # applies to authorized traffic only, like a real org's bucket
        with self.lock:
            if self.inject_429_remaining > 0:
                self.inject_429_remaining -= 1
                self.n_429_served += 1
                return h._json(
                    429,
                    [{"errorCode": "REQUEST_LIMIT_EXCEEDED", "message": "TotalRequests limit"}],
                    headers={"Retry-After": str(self.retry_after_seconds)},
                )

        if method == "GET" and path == f"{API}/query":
            soql = qs.get("q", [""])[0]
            return self.handle_query(h, soql, offset=0)

        m = re.fullmatch(f"{API}/queryNext/(\\d+)", path)
        if method == "GET" and m:
            # continuation cursor: opaque id → (soql, offset), so concurrent
            # paginating scans (one per executor task) never interfere
            with self.lock:
                soql, offset = self.cursors[int(m.group(1))]
            return self.handle_query(h, soql, offset=offset)

        m = re.fullmatch(f"{API}/sobjects/(\\w+)/describe", path)
        if method == "GET" and m:
            return h._json(200, {"name": m.group(1), "fields": self.fields_meta})

        if method == "POST" and path == f"{API}/jobs/query":
            body = json.loads(h.rfile.read(int(h.headers.get("Content-Length", 0))))
            with self.lock:
                job_id = f"750{len(self.jobs):012d}"
                self.jobs[job_id] = {"query": body["query"], "polls": 0, "state": "UploadComplete"}
            return h._json(200, self.job_json(job_id))

        m = re.fullmatch(f"{API}/jobs/query/(\\w+)", path)
        if m and method == "GET":
            job_id = m.group(1)
            with self.lock:
                job = self.jobs[job_id]
                if job["state"] in ("UploadComplete", "InProgress"):
                    job["polls"] += 1
                    job["state"] = (
                        "InProgress" if job["polls"] <= self.fail_first_polls else "JobComplete"
                    )
            return h._json(200, self.job_json(job_id))
        if m and method == "PATCH":
            job_id = m.group(1)
            with self.lock:
                job = self.jobs[job_id]
                if job["state"] in ("UploadComplete", "InProgress"):
                    job["state"] = "Aborted"
            return h._json(200, self.job_json(job_id))

        m = re.fullmatch(f"{API}/jobs/query/(\\w+)/results", path)
        if method == "GET" and m:
            return self.handle_results(h, m.group(1), qs)

        # -- Bulk 2.0 ingest (the LOAD leg) ---------------------------------

        if method == "POST" and path == f"{API}/jobs/ingest":
            body = json.loads(h.rfile.read(int(h.headers.get("Content-Length", 0))))
            if body.get("object") != self.object_name:
                return h._json(
                    400,
                    [{"errorCode": "INVALIDENTITY", "message": body.get("object")}],
                )
            operation = body.get("operation", "insert")
            ext_field = body.get("externalIdFieldName")
            if operation not in ("insert", "upsert", "delete"):
                return h._json(
                    400,
                    [{"errorCode": "INVALIDOPERATION", "message": operation}],
                )
            if operation == "upsert" and not ext_field:
                # real Bulk 2.0 rejects upsert without an external id
                return h._json(
                    400,
                    [{
                        "errorCode": "INVALIDJOB",
                        "message": "externalIdFieldName required for upsert",
                    }],
                )
            with self.lock:
                job_id = f"751{len(self.jobs):012d}"
                self.jobs[job_id] = {
                    "kind": "ingest",
                    "state": "Open",
                    "operation": operation,
                    "external_id_field": ext_field,
                    "csv": None,
                    "polls": 0,
                    "applied": False,
                    "failed": [],
                    "succeeded": [],  # (sf_id, created, original row)
                    "unprocessed": [],  # rows never attempted (job-level fail)
                    "header": [],
                }
            return h._json(200, self.ingest_job_json(job_id))

        m = re.fullmatch(f"{API}/jobs/ingest/(\\w+)/batches", path)
        if method == "PUT" and m:
            # read the body BEFORE taking the lock (socket I/O under the
            # server lock would serialize uploads); state check + csv
            # write hold it, like the sibling GET/PATCH routes
            payload = h.rfile.read(
                int(h.headers.get("Content-Length", 0))
            ).decode("utf-8")
            with self.lock:
                job = self.jobs.get(m.group(1))
                if job is None or job["state"] != "Open":
                    return h._json(
                        400,
                        [{"errorCode": "INVALIDJOBSTATE", "message": m.group(1)}],
                    )
                job["csv"] = payload
            return h._send(201, "", content_type="text/plain")

        m = re.fullmatch(f"{API}/jobs/ingest/(\\w+)/failedResults", path)
        if method == "GET" and m:
            with self.lock:
                job = self.jobs.get(m.group(1))
                # failed rows are retrievable from BOTH terminal-with-
                # results states: JobComplete (row rejects) and Failed
                # (job-level rejects) — matching the real endpoint.
                # kind guard: a QUERY job id on an ingest-results route
                # is INVALIDJOBSTATE, not a handler crash
                if (
                    job is None
                    or job.get("kind") != "ingest"
                    or job["state"] not in ("JobComplete", "Failed")
                ):
                    return h._json(
                        400,
                        [{"errorCode": "INVALIDJOBSTATE", "message": m.group(1)}],
                    )
                buf = io.StringIO()
                w = csv.writer(buf, lineterminator="\n")
                w.writerow(["sf__Id", "sf__Error"] + job["header"])
                for row, err in job["failed"]:
                    w.writerow(["", err] + [row.get(f, "") for f in job["header"]])
            return h._send(200, buf.getvalue(), content_type="text/csv")

        m = re.fullmatch(f"{API}/jobs/ingest/(\\w+)/successfulResults", path)
        if method == "GET" and m:
            with self.lock:
                job = self.jobs.get(m.group(1))
                if (
                    job is None
                    or job.get("kind") != "ingest"
                    or job["state"] not in ("JobComplete", "Failed")
                ):
                    return h._json(
                        400,
                        [{"errorCode": "INVALIDJOBSTATE", "message": m.group(1)}],
                    )
                buf = io.StringIO()
                w = csv.writer(buf, lineterminator="\n")
                w.writerow(["sf__Id", "sf__Created"] + job["header"])
                for sf_id, created, row in job.get("succeeded", []):
                    w.writerow(
                        [sf_id, "true" if created else "false"]
                        + [row.get(f, "") for f in job["header"]]
                    )
            return h._send(200, buf.getvalue(), content_type="text/csv")

        m = re.fullmatch(f"{API}/jobs/ingest/(\\w+)/unprocessedrecords", path)
        if method == "GET" and m:
            with self.lock:
                job = self.jobs.get(m.group(1))
                if (
                    job is None
                    or job.get("kind") != "ingest"
                    or job["state"] not in ("JobComplete", "Failed", "Aborted")
                ):
                    return h._json(
                        400,
                        [{"errorCode": "INVALIDJOBSTATE", "message": m.group(1)}],
                    )
                if job["state"] == "Aborted" and job["csv"] and not job["unprocessed"]:
                    # an aborted job's rows were never attempted: the
                    # whole upload is the retry set
                    rows = csv.reader(io.StringIO(job["csv"]))
                    job["header"] = next(rows, None) or []
                    job["unprocessed"] = [dict(zip(job["header"], r)) for r in rows]
                buf = io.StringIO()
                w = csv.writer(buf, lineterminator="\n")
                w.writerow(job["header"])
                for row in job.get("unprocessed", []):
                    w.writerow([row.get(f, "") for f in job["header"]])
            return h._send(200, buf.getvalue(), content_type="text/csv")

        if method == "GET" and path == f"{API}/jobs/ingest":
            # job-list endpoint (GET /jobs/ingest) — paginated like the
            # real API: done/nextRecordsUrl, job_page_size per page.
            # Listing is a status read: in-flight jobs advance through
            # the same poll counter as the per-id GET (the real backend
            # reports live state either way; the client's large-set
            # commit sweep reads state from here)
            offset = int(qs.get("queryLocator", ["0"])[0] or 0)
            with self.lock:
                ids = [
                    jid for jid, j in self.jobs.items() if j.get("kind") == "ingest"
                ]
                page = ids[offset : offset + self.job_page_size]
                for jid in page:
                    job = self.jobs[jid]
                    if job["state"] in ("UploadComplete", "InProgress"):
                        job["polls"] += 1
                        if job["polls"] > self.fail_first_polls:
                            self._apply_ingest(job)
                            job["state"] = (
                                "Failed"
                                if job.get("error_message")
                                else "JobComplete"
                            )
                        else:
                            job["state"] = "InProgress"
                records = [self.ingest_job_json(jid) for jid in page]
            nxt = offset + self.job_page_size
            payload = {"done": nxt >= len(ids), "records": records}
            if not payload["done"]:
                payload["nextRecordsUrl"] = f"{API}/jobs/ingest?queryLocator={nxt}"
            return h._json(200, payload)

        m = re.fullmatch(f"{API}/jobs/ingest/(\\w+)", path)
        if m and method == "GET":
            job_id = m.group(1)
            with self.lock:
                job = self.jobs[job_id]
                if job["state"] == "UploadComplete":
                    job["polls"] += 1
                    if job["polls"] > self.fail_first_polls:
                        self._apply_ingest(job)
                        job["state"] = (
                            "Failed" if job.get("error_message") else "JobComplete"
                        )
                    else:
                        job["state"] = "InProgress"
                elif job["state"] == "InProgress":
                    job["polls"] += 1
                    if job["polls"] > self.fail_first_polls:
                        self._apply_ingest(job)
                        job["state"] = (
                            "Failed" if job.get("error_message") else "JobComplete"
                        )
            return h._json(200, self.ingest_job_json(job_id))
        if m and method == "PATCH":
            job_id = m.group(1)
            body = json.loads(h.rfile.read(int(h.headers.get("Content-Length", 0))))
            with self.lock:
                job = self.jobs[job_id]
                want = body.get("state")
                if want == "UploadComplete" and job["state"] == "Open":
                    if job["csv"] is None:
                        return h._json(
                            400,
                            [{"errorCode": "INVALIDJOBSTATE", "message": "no batch uploaded"}],
                        )
                    job["state"] = "UploadComplete"
                elif want == "Aborted" and job["state"] in ("Open", "UploadComplete"):
                    job["state"] = "Aborted"
            return h._json(200, self.ingest_job_json(job_id))

        return h._json(404, [{"errorCode": "NOT_FOUND", "message": h.path}])

    def _apply_ingest(self, job: dict) -> None:
        """Parse the job's uploaded CSV once and apply it to the served
        dataset per the job's operation — aborted jobs never reach
        here, so their rows are never visible to queries (the
        writer-abort guarantee the DataSource writer relies on).

        insert  : append with server-assigned Ids. A CSV that carries
                  an Id column FAILS the whole job (real Bulk 2.0
                  rejects Id on insert — r11 ADVICE; loaders must
                  stage deletes from read-back Ids, not invented ones).
        upsert  : match on the job's externalIdFieldName — existing
                  rows are updated field-by-field, unmatched rows
                  insert with a fresh Id; rows with an EMPTY external
                  id value fail (recorded for /failedResults). An
                  EMPTY cell leaves the target field UNCHANGED; the
                  ``#N/A`` sentinel is what nulls a field (documented
                  Bulk 2.0 CSV semantics — r11 ADVICE).
        delete  : CSV carries Id only; unknown Ids fail, known rows
                  are removed.
        Failed rows land in job['failed'] and are served by the
        ``/jobs/ingest/{id}/failedResults`` route; ``n_applied`` counts
        successes only (numberRecordsProcessed parity). A job-level
        reject sets job['error_message'] → state Failed.
        """
        if job["applied"]:
            return
        rows = csv.reader(io.StringIO(job["csv"]))
        header = next(rows, None) or []
        job["header"] = header
        op = job.get("operation", "insert")
        ext = job.get("external_id_field")
        n = 0
        if op == "insert" and "Id" in header:
            job["error_message"] = (
                "InvalidJob : Id column not allowed on insert operation"
            )
            # a job-level reject means NO row was attempted: the whole
            # CSV is retrievable as unprocessed records (the retry set)
            job["unprocessed"] = [dict(zip(header, r)) for r in rows]
            job["applied"] = True
            job["n_applied"] = 0
            return
        if op == "upsert":
            if ext not in header:
                job["failed"] = [
                    (dict(zip(header, r)), f"missing column {ext!r}")
                    for r in rows
                ]
                job["applied"] = True
                job["n_applied"] = 0
                return
            by_ext = {r.get(ext): r for r in self.rows if r.get(ext)}
        for raw in rows:
            rec = dict(zip(header, raw))
            if op == "insert":
                # '#N/A' is the explicit-null sentinel; an empty cell on
                # a NEW row is simply a null field (stored as "")
                rec = {f: ("" if v == "#N/A" else v) for f, v in rec.items()}
                rec["Id"] = self._next_id()
                self.rows.append(rec)
                job["succeeded"].append((rec["Id"], True, rec))
                n += 1
            elif op == "upsert":
                key = rec.get(ext)
                if not key:
                    job["failed"].append(
                        (rec, f"empty external id value for {ext!r}")
                    )
                    continue
                target = by_ext.get(key)
                if target is None:
                    rec = {f: ("" if v == "#N/A" else v) for f, v in rec.items()}
                    if not rec.get("Id"):
                        rec["Id"] = self._next_id()
                    self.rows.append(rec)
                    by_ext[key] = rec
                    job["succeeded"].append((rec["Id"], True, rec))
                else:
                    for f, v in rec.items():
                        if f == "Id":
                            continue  # Id is server-owned on upsert
                        if v == "":
                            continue  # empty cell = leave field as-is
                        # '#N/A' is the documented set-null sentinel
                        target[f] = "" if v == "#N/A" else v
                    job["succeeded"].append((target["Id"], False, rec))
                n += 1
            else:  # delete
                rid = rec.get("Id")
                before = len(self.rows)
                self.rows = [r for r in self.rows if r.get("Id") != rid]
                if len(self.rows) == before:
                    job["failed"].append((rec, f"entity not found: {rid}"))
                else:
                    job["succeeded"].append((rid, False, rec))
                    n += 1
        job["applied"] = True
        job["n_applied"] = n
        self.n_rows = len(self.rows)

    def _next_id(self) -> str:
        """Server-assigned record Id (monotone, distinct from fixture
        ids which are dense from 0)."""
        self._id_seq = getattr(self, "_id_seq", 0) + 1
        return f"500A{self._id_seq:014d}"

    def ingest_job_json(self, job_id: str) -> dict:
        job = self.jobs[job_id]
        return {
            "id": job_id,
            "operation": job.get("operation", "insert"),
            "externalIdFieldName": job.get("external_id_field"),
            "object": self.object_name,
            "state": job["state"],
            "contentType": "CSV",
            "lineEnding": "LF",
            "columnDelimiter": "COMMA",
            "concurrencyMode": "Parallel",
            "apiVersion": 49.0,
            "numberRecordsProcessed": job.get("n_applied"),
            "numberRecordsFailed": len(job.get("failed", []))
            if job["state"] in ("JobComplete", "Failed")
            else None,
            "errorMessage": job.get("error_message"),
        }

    # -- endpoint behaviors ------------------------------------------------

    def select_rows(self, soql: str) -> tuple[list[str], list[dict]]:
        """Trivial SOQL evaluation: field list + integer range / string
        IN-list WHERE conditions (enough for the partitioned-reader and
        pushdown tests — a pushed filter the server actually honors
        shrinks the wire payload, which is the point of pushdown), and
        ``ORDER BY <integer field> [ASC|DESC] [NULLS FIRST|LAST]``
        with ``LIMIT``."""
        m = re.match(
            r"SELECT (.+) FROM (\w+)(?: WHERE (.+?))?"
            r"(?: ORDER BY (\w+)(?: (ASC|DESC))?(?: NULLS (FIRST|LAST))?)?"
            r"(?: LIMIT (\d+))?$",
            soql,
            re.I,
        )
        fields = [f.strip() for f in m.group(1).split(",")]
        rows = self.rows
        where = m.group(3)
        if where:
            for cond in re.split(r"\s+AND\s+", where):
                im = re.match(r"\(?(\w+) IN \(([^)]*)\)\)?", cond.strip(), re.I)
                if im:
                    fld = im.group(1)
                    vals = {v.strip().strip("'") for v in im.group(2).split(",")}
                    rows = [r for r in rows if r.get(fld) in vals]
                    continue
                cm = re.match(r"\(?(\w+) (>=|<|<=|>|=) (\d+)\)?", cond.strip())
                if not cm:
                    continue
                fld, op, val = cm.group(1), cm.group(2), int(cm.group(3))
                ops = {
                    ">=": lambda a, b: a >= b,
                    "<": lambda a, b: a < b,
                    "<=": lambda a, b: a <= b,
                    ">": lambda a, b: a > b,
                    "=": lambda a, b: a == b,
                }[op]
                rows = [r for r in rows if ops(int(r[fld]), val)]
        if m.group(4):  # ORDER BY <numeric field>
            fld = m.group(4)
            desc = (m.group(5) or "ASC").upper() == "DESC"
            # SOQL puts nulls first unless told NULLS LAST
            nulls_last = (m.group(6) or "FIRST").upper() == "LAST"
            nulls = [r for r in rows if r.get(fld) in (None, "")]
            vals = sorted(
                (r for r in rows if r.get(fld) not in (None, "")),
                key=lambda r: int(r[fld]),
                reverse=desc,
            )
            rows = vals + nulls if nulls_last else nulls + vals
        if m.group(7):  # LIMIT n — applied after ordering, like SOQL
            rows = rows[: int(m.group(7))]
        return fields, rows

    def handle_query(self, h, soql, offset):
        fields, rows = self.select_rows(soql)
        page = rows[offset : offset + self.page_size]
        nxt = offset + self.page_size
        done = nxt >= len(rows)
        payload = {
            "totalSize": len(rows),
            "done": done,
            "records": [
                {
                    "attributes": {
                        "type": self.object_name,
                        # .get: a served dataset staged without Id must
                        # surface as empty url, not a 500 MOCK_BUG
                        "url": f"/sobjects/{self.object_name}/{r.get('Id', '')}",
                    },
                    **{f: r.get(f) for f in fields},
                }
                for r in page
            ],
        }
        if not done:
            with self.lock:
                cursor_id = len(self.cursors)
                self.cursors[cursor_id] = (soql, nxt)
            payload["nextRecordsUrl"] = f"{API}/queryNext/{cursor_id}"
        return h._json(200, payload)

    def job_json(self, job_id: str) -> dict:
        job = self.jobs[job_id]
        done = job["state"] == "JobComplete"
        _, rows = self.select_rows(job["query"])
        return {
            "id": job_id,
            "operation": "query",
            "object": self.object_name,
            "createdById": "005000000000001",
            "createdDate": "2024-06-01T00:00:00.000Z",
            "systemModstamp": "2024-06-01T00:00:00.000Z",
            "state": job["state"],
            "concurrencyMode": "Parallel",
            "contentType": "CSV",
            "apiVersion": 49.0,
            "lineEnding": self.line_ending,
            "columnDelimiter": self.column_delimiter,
            "numberRecordsProcessed": len(rows) if done else None,
        }

    def handle_results(self, h, job_id, qs):
        job = self.jobs.get(job_id)
        if job is None or job["state"] != "JobComplete":
            return h._json(400, [{"errorCode": "JOB_NOT_COMPLETE", "message": job_id}])
        fields, rows = self.select_rows(job["query"])
        offset = int(qs.get("locator", ["0"])[0] or 0)
        limit = int(qs.get("maxRecords", [str(self.page_size)])[0])
        page = rows[offset : offset + limit]
        delim = {
            "COMMA": ",",
            "PIPE": "|",
            "TAB": "\t",
            "SEMICOLON": ";",
            "CARET": "^",
            "BACKQUOTE": "`",
        }[self.column_delimiter]
        term = "\r\n" if self.line_ending == "CRLF" else "\n"
        buf = io.StringIO()
        w = csv.writer(buf, delimiter=delim, lineterminator=term)
        w.writerow(fields)
        for r in page:
            w.writerow([r.get(f, "") for f in fields])
        nxt = offset + limit
        headers = {
            "Sforce-NumberOfRecords": str(len(page)),
            "Sforce-Locator": str(nxt) if nxt < len(rows) else "null",
        }
        return h._send(200, buf.getvalue(), headers, content_type="text/csv")
