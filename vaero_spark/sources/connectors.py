"""Concrete ``fetch_page`` presets for the paginated-API connector.

The generic :class:`~vaero_spark.sources.paginated_api.PaginatedApiSource`
owns cursor persistence, rate limiting, backoff, the late/duplicate
gate, and the exactly-once spool; these presets supply the per-service
HTTP shape so a DSL plan can say ``source("okta", host=..., ...)`` with
no user callable — the parity gap from the reference's concrete
connectors:

- **okta** (``/root/reference/integrations/python/source_okta.py``):
  ``GET {host}/api/v1/logs`` with header auth ``Authorization: SSWS
  <token>``, query params ``sortOrder=ASCENDING`` + ``since=<cursor>``,
  and RFC-5988 **Link-header pagination** — the ``after`` query param of
  the ``rel="next"`` link is the page token (``source_okta.py:36-64``).
  The response body is a JSON array of events.
- **google_workspace**
  (``integrations/python/source_google_workspace.py``): ``GET
  {base}/activity/users/all/applications/{app}`` with bearer auth,
  ``startTime=<cursor>``, and **body-token pagination** — the response
  JSON carries ``items`` plus an optional ``nextPageToken``
  (``source_google_workspace.py:188-199``).

HTTP error policy matches the reference's retry predicate
(``vaero_cdk/http_connector.py:101-102``: retry on 429 and 5xx):
those map to :class:`TransientApiError` (the poller's exponential
backoff retries them); other 4xx map to :class:`PermanentApiError`
(give up loudly).

Documented divergences from the reference services (sandbox has no
network): event timestamps are expected in the connector's canonical
``%Y-%m-%dT%H:%M:%S.%f`` form (production would normalize RFC-3339
zone suffixes first). The google preset polls ONE configured app per
source by default; pass ``apps=[...]`` for the reference's multi-app
drain (:class:`GoogleWorkspaceMultiAppSource` — one isolated cursor
per app exactly like the reference's app-keyed cursor dict, and a FULL
app rotation per poll interval exactly like the reference's
``__FLAG__`` continuation drain, ``source_google_workspace.py:78-81,
196-207``).

Auth tokens are read from the ``args`` mapping **at request time**, not
captured at build time, so the secrets resolver's per-poll in-place
refresh (``secrets.py``) hot-swaps credentials mid-stream.
"""

from __future__ import annotations

import json
import os
import re
import urllib.error
import urllib.parse
import urllib.request
from typing import Callable

from vaero_spark.sources.spool import (
    PermanentApiError,
    SpoolPoller,
    TransientApiError,
)


def http_get_json(
    url: str, headers: dict, params: dict, timeout: float = 30.0
) -> tuple[object, dict]:
    """GET ``url?params`` → (parsed JSON body, response headers).

    429/5xx → TransientApiError (backoff retries); other 4xx →
    PermanentApiError; connection failures are transient."""
    q = urllib.parse.urlencode({k: v for k, v in params.items() if v is not None})
    req = urllib.request.Request(f"{url}?{q}" if q else url, headers=headers)
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            # dict(Message) keeps only the FIRST value of a repeated
            # header — okta sends rel="self" and rel="next" as SEPARATE
            # Link header lines, so that would silently lose the next
            # link and cap every poll at one page. RFC 7230 lets
            # repeated headers be joined with commas, which is exactly
            # the form _link_next_after parses.
            merged = {
                k: ", ".join(resp.headers.get_all(k))
                for k in set(resp.headers.keys())
            }
            return json.loads(resp.read().decode()), merged
    except urllib.error.HTTPError as e:
        if e.code == 429 or 500 <= e.code < 600:
            raise TransientApiError(f"HTTP {e.code} from {url}") from e
        raise PermanentApiError(f"HTTP {e.code} from {url}") from e
    except urllib.error.URLError as e:
        raise TransientApiError(f"connection failure to {url}: {e}") from e


def _link_next_after(headers: dict) -> str | None:
    """Extract the ``after`` query param from the RFC-5988 ``Link``
    header's ``rel="next"`` entry (the okta pagination token,
    ``source_okta.py:50-62``).

    Entries are matched as ``<url> ; params`` via regex rather than a
    naive split on ',': commas are legal inside the bracketed URL's
    query string (okta ``after`` tokens are opaque), and splitting
    there truncated the URL mid-token — losing ``after`` and silently
    capping every poll at one page."""
    link = headers.get("Link") or headers.get("link")
    if not link:
        return None
    # <href> followed by its params up to the next entry's '<' — the
    # params region cannot contain '<', so this never splits inside a
    # bracketed URL no matter what characters the URL holds.
    for m in re.finditer(r"<([^>]*)>\s*([^<]*)", link):
        href, attrs = m.group(1), m.group(2)
        if 'rel="next"' not in attrs:
            continue
        qs = urllib.parse.parse_qs(urllib.parse.urlparse(href).query)
        after = qs.get("after")
        if after:
            return after[0]
    return None


def build_okta_fetch_page(args: dict) -> Callable:
    """``fetch_page`` for the Okta System Log API shape. Reads ``host``
    and ``token`` from ``args`` per request (live secrets refresh)."""

    def fetch_page(since_s: str | None, page_token: str | None):
        events, headers = http_get_json(
            f"{args['host'].rstrip('/')}/api/v1/logs",
            headers={"Authorization": f"SSWS {args['token']}"},
            params={
                "sortOrder": "ASCENDING",
                "since": since_s,
                "after": page_token,
                "limit": args.get("page_limit"),
            },
            timeout=float(args.get("http_timeout", 30.0)),
        )
        # okta's System Log always returns a next link; an empty page
        # means caught-up — stop (source_okta.py:44-49)
        next_token = _link_next_after(headers) if events else None
        return events, next_token

    return fetch_page


def build_google_workspace_fetch_page(args: dict) -> Callable:
    """``fetch_page`` for the Google Workspace admin-reports shape:
    bearer auth + ``nextPageToken`` body pagination over one configured
    ``app``."""

    def fetch_page(since_s: str | None, page_token: str | None):
        app = args.get("app", "admin")
        body, _headers = http_get_json(
            f"{args['base_url'].rstrip('/')}/activity/users/all/applications/{app}",
            headers={
                "Authorization": f"Bearer {args['token']}",
                "Accept": "application/json",
            },
            params={
                "startTime": since_s,
                "pageToken": page_token,
                "maxResults": args.get("page_limit"),
            },
            timeout=float(args.get("http_timeout", 30.0)),
        )
        return body.get("items", []), body.get("nextPageToken")

    return fetch_page


class GoogleWorkspaceMultiAppSource(SpoolPoller):
    """Reference-parity multi-app polling
    (``source_google_workspace.py:78-81,196-207``): the reference drains
    ALL configured applications within a single read cycle (its
    ``__FLAG__`` continuation token advances ``_configured_app_idx``
    until the app list wraps), so one poll interval covers every app —
    per-app latency does NOT scale with ``len(apps)``. Mirrored here:
    the shared poll loop's units are the per-app sources, so each tick
    polls every app in order (:meth:`poll_cycle` is one such tick,
    unguarded). Each app's cursor is isolated (the reference keys its
    cursor dict by app name; here each app owns a full
    ``PaginatedApiSource`` — cursor file, crash-replay guard, late gate,
    poll health — sharing one spool directory via per-app filename
    prefixes, so the pipeline still reads ONE exactly-once file stream).
    A permanent error on any app halts the loop and surfaces via
    :meth:`check_health`; a transient one on one app never holds back
    the others."""

    def __init__(self, sources: list):
        if not sources:
            raise ValueError("at least one per-app source required")
        self.sources = sources

    def poll_units(self) -> tuple:
        return tuple(self.sources)

    def poll_cycle(self) -> int:
        return sum(src.poll() for src in self.sources)

    def stream(self, spark, payload_schema: str):
        self.check_health()
        return self.sources[0].stream(spark, payload_schema)


def build_google_workspace_multi_source(args: dict, **source_kwargs):
    """One ``PaginatedApiSource`` per app in ``args['apps']``, cursors
    isolated per app (``<cursor_path>`` with an ``-<app>`` suffix before
    the extension), one shared spool via per-app filename prefixes."""
    from vaero_spark.sources.paginated_api import PaginatedApiSource

    root, ext = os.path.splitext(args["cursor_path"])
    sources = []
    for app in args["apps"]:
        app_args = {**args, "app": app}
        sources.append(
            PaginatedApiSource(
                fetch_page=build_google_workspace_fetch_page(app_args),
                spool_dir=args["spool_dir"],
                cursor_path=f"{root}-{app}{ext or '.json'}",
                spool_prefix=f"{app}-",
                **source_kwargs,
            )
        )
    return GoogleWorkspaceMultiAppSource(sources)


PRESET_FETCH_PAGE = {
    "okta": build_okta_fetch_page,
    "google_workspace": build_google_workspace_fetch_page,
}

# per-service default event-time key (okta logs carry `published`,
# source_okta.py:95-99; workspace items are normalized to `ts` by the
# stub/report layer)
PRESET_EVENT_TIME_KEY = {"okta": "published", "google_workspace": "ts"}
