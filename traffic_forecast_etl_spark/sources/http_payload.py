"""Driver-side HTTP fetch for the forecast source (SURVEY §2.1 S4,
VERDICT r7 missing #1).

The reference pulls the forecast live with two blocking GETs on the
scheduler host (reference: dags/utils.py:153-178 — location lookup,
then hourly forecast for the resolved location key). That is a
DRIVER-side concern by design: the payload is a handful of KB, so it
is fetched once on the driver and handed to
:func:`..sources.json_payload.read_json_payload`, which plans it as a
string literal and flattens it JVM-side. Nothing here touches
executors — at 100 TB the forecast payload is still a handful of KB.

Transport is injectable: ``fetch_json(..., transport=...)`` takes any
``(url, params) -> bytes | str`` callable, so tests (and air-gapped
environments like this one) run the full fetch → resolve → flatten
pipeline against a fake transport with zero sockets. The default
transport is stdlib ``urllib.request`` with bounded retries and
exponential backoff — no third-party HTTP dependency.
"""

from __future__ import annotations

import configparser
import json
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass
from typing import Any, Callable

Transport = Callable[[str, dict[str, Any] | None], "bytes | str"]


def _urllib_transport(timeout: float) -> Transport:
    def fetch(url: str, params: dict[str, Any] | None) -> bytes:
        if params:
            url = f"{url}?{urllib.parse.urlencode(params)}"
        with urllib.request.urlopen(url, timeout=timeout) as resp:  # noqa: S310
            return resp.read()

    return fetch


def fetch_json(
    url: str,
    params: dict[str, Any] | None = None,
    retries: int = 3,
    backoff_s: float = 1.0,
    timeout_s: float = 10.0,
    transport: Transport | None = None,
):
    """GET ``url`` and parse the body as JSON, with ``retries``
    attempts and exponential backoff (the resilience the reference's
    bare ``requests.get`` lacks — a transient 5xx there fails the DAG
    run). Returns the parsed payload (list or dict)."""
    if retries < 1:
        raise ValueError("retries must be >= 1")
    transport = transport or _urllib_transport(timeout_s)
    last: Exception | None = None
    for attempt in range(retries):
        try:
            body = transport(url, params)
        except (urllib.error.URLError, OSError, TimeoutError) as e:
            last = e
            if attempt + 1 < retries:
                time.sleep(backoff_s * (2**attempt))
            continue
        if isinstance(body, bytes):
            body = body.decode("utf-8")
        return json.loads(body)
    raise ConnectionError(
        f"GET {url} failed after {retries} attempts: {last}"
    ) from last


@dataclass(frozen=True)
class ApiConfig:
    """The reference's ``[api]`` ini section (dags/utils.py:146-151):
    key, location-search URL, forecast URL prefix."""

    key: str
    location_url: str
    forecast_url: str

    @classmethod
    def from_ini(cls, path: str, section: str = "api") -> "ApiConfig":
        cp = configparser.ConfigParser()
        cp.read(path)
        s = cp[section]
        return cls(
            key=s["key"],
            location_url=s["location_url"],
            forecast_url=s["forecast_url"],
        )


def fetch_forecast(
    cfg: ApiConfig,
    query: str = "Utrecht",
    transport: Transport | None = None,
    retries: int = 3,
):
    """The reference's two-GET forecast pull (dags/utils.py:153-178):

    1. GET ``location_url`` with ``{apikey, q=query, details:False}``;
       resolve the location key as the FIRST element whose
       ``EnglishName`` equals ``query`` — the INTENDED semantics of
       the reference's loop, whose misplaced ``break`` only ever
       inspects element 0 (SURVEY §2.11); a dict payload is the
       single-match shape and is accepted when its EnglishName is
       truthy, mirroring dags/utils.py:164-166.
    2. GET ``forecast_url + location_key`` with ``{apikey,
       details:True}``; return the hourly-forecast payload that
       :func:`..sources.json_payload.read_json_payload` consumes.

    Raises LookupError when no location matches (the reference's
    unbound-variable NameError, surfaced as a real error)."""
    loc_payload = fetch_json(
        cfg.location_url,
        {"apikey": cfg.key, "q": query, "details": False},
        retries=retries,
        transport=transport,
    )
    location_key = None
    if isinstance(loc_payload, list):
        for el in loc_payload:
            if el.get("EnglishName") == query:
                location_key = el.get("Key")
                break
    elif isinstance(loc_payload, dict):
        if loc_payload.get("EnglishName"):
            location_key = loc_payload.get("Key")
    if location_key is None:
        raise LookupError(f"no location matching {query!r} in the lookup payload")
    return fetch_json(
        f"{cfg.forecast_url}{location_key}",
        {"apikey": cfg.key, "details": True},
        retries=retries,
        transport=transport,
    )
