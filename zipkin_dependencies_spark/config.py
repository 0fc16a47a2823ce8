"""Driver-side configuration surface (SURVEY §2.9 config table, §2.2 P9, §2.1 S6).

Pure Python, no Spark session: these run on the driver before one exists
(only a live SPAN_FORMAT imports ``sources/backends.py``, for its store
settings), mirroring the reference's env-and-argv bootstrap
(main/src/main/java/zipkin2/dependencies/ZipkinDependenciesJob.java:21-87).
Each function cites the reference site whose observable behavior it
reproduces; unit tests in tests/test_config.py mirror the reference's own
parsing unit tests (SURVEY §5 layer 1).
"""

from __future__ import annotations

import datetime as dt
import os
import re
from dataclasses import dataclass, field
from urllib.parse import urlsplit

from .operators.day_filter import DayFilter

# -- date argument (ZipkinDependenciesJob.java:95-104) ------------------------

_DAY_ERROR = "First argument must be a yyyy-MM-dd formatted date. Ex. 2016-07-16"


def parse_day(formatted: str) -> int:
    """``yyyy-MM-dd`` → epoch millis at UTC midnight; bad input raises
    ValueError with the reference's message (ZipkinDependenciesJob.java:95-104)."""
    try:
        d = dt.datetime.strptime(formatted, "%Y-%m-%d")
    except ValueError:
        raise ValueError(_DAY_ERROR) from None
    return int(d.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)


def micros_day_repr(epoch_ms: int) -> dt.date:
    """Epoch millis → the UTC day it falls in (the reference renders this via
    SimpleDateFormat("yyyy-MM-dd") with UTC, CassandraDependenciesJob.java:149-151)."""
    return dt.datetime.fromtimestamp(epoch_ms / 1000, tz=dt.timezone.utc).date()


def midnight_utc(epoch_ms: int) -> int:
    """Floor epoch millis to UTC midnight ([EXT] DateUtil.midnightUTC; call
    sites CassandraDependenciesJob.java:100, MySQLDependenciesJob.java:111)."""
    return epoch_ms - epoch_ms % 86_400_000


# -- SPARK_CONF passthrough (ZipkinDependenciesJob.java:34-43) ----------------

def parse_spark_conf(raw: str | None) -> dict[str, str]:
    """``k=v,k=v`` → ordered dict; pairs without exactly one ``=`` are
    silently dropped, and input with no ``=`` at all yields nothing —
    byte-for-byte the reference's loop (ZipkinDependenciesJob.java:36-43)."""
    conf: dict[str, str] = {}
    if raw and "=" in raw:
        for pair in raw.split(","):
            splits = pair.split("=")
            if len(splits) == 2:
                conf[splits[0]] = splits[1]
    return conf


# -- Cassandra contact points (P9; CassandraDependenciesJob.java:234-251) -----

def _host_and_port(contact_point: str) -> tuple[str, int | None]:
    """Guava ``HostAndPort.fromString`` subset the reference exercises:
    ``host``, ``host:port``, ``[v6]``, ``[v6]:port``; a bare string with
    multiple colons is an IPv6 literal with no port."""
    s = contact_point.strip()
    if s.startswith("["):
        host, _, rest = s[1:].partition("]")
        if rest.startswith(":"):
            return host, int(rest[1:])
        return host, None
    if s.count(":") == 1:
        host, _, port = s.partition(":")
        return host, int(port)
    return s, None


def parse_cassandra_hosts(contact_points: str) -> str:
    """Strip port sections, keep order and comma delimiting
    (CassandraDependenciesJob.java:234-241; unit cases
    CassandraDependenciesJobTest.java:14-22)."""
    return ",".join(_host_and_port(p)[0] for p in contact_points.split(","))


def parse_cassandra_port(contact_points: str) -> str:
    """The consistent port across all contact points, else "9042" — a single
    differing or defaulted port falls back (CassandraDependenciesJob.java:243-251)."""
    ports = {_host_and_port(p)[1] or 9042 for p in contact_points.split(",")}
    return str(next(iter(ports))) if len(ports) == 1 else "9042"


# -- ES/OS host lists (P9; ElasticsearchDependenciesJob.java:228-248) ---------

def parse_es_hosts(hosts: str) -> str:
    """Connector form ``host:port,…``: URL entries are reduced to host:port
    with scheme-default ports (http→80, https→443); bare entries pass through
    (ElasticsearchDependenciesJob.java:228-248; OS twin identical)."""
    out = []
    for host in hosts.split(","):
        if host.startswith("http"):
            uri = urlsplit(host)
            port = uri.port or (443 if host.startswith("https") else 80)
            out.append(f"{uri.hostname}:{port}")
        else:
            out.append(host)
    return ",".join(out)


def parse_storage_urls(hosts: str) -> list[str]:
    """Probe-URL form ``scheme://host:port``: the default scheme is https iff
    any entry is https, and the default port is 9200
    (ZipkinElasticsearchStorage.java:135-162)."""
    parts = hosts.split(",")
    default_scheme = "https" if any(p.startswith("https") for p in parts) else "http"
    out = []
    for host in parts:
        uri = urlsplit(host if host.startswith("http") else f"{default_scheme}://{host}")
        out.append(f"{uri.scheme}://{uri.hostname}:{uri.port or 9200}")
    return out


# -- backend flavor sniff (S6; ZipkinElasticsearchStorage.java:77-128) --------

_DISTRIBUTION = re.compile(r'"distribution"\s*[:]\s*"([^"]+)"')


def sniff_flavor(body: str) -> str | None:
    """Extract the lowercased ``distribution`` field from a cluster-root JSON
    body, None when absent (ZipkinElasticsearchStorage.java:38,104-107)."""
    m = _DISTRIBUTION.search(body)
    return m.group(1).lower() if m else None


def flavor_from_responses(bodies) -> str:
    """First sniffable distribution wins; unreachable/unmatched responses fall
    through; the overall default is "elasticsearch"
    (ZipkinElasticsearchStorage.java:101-127)."""
    for body in bodies:
        if body is None:
            continue
        flavor = sniff_flavor(body)
        if flavor is not None:
            return flavor
    return "elasticsearch"


def probe_flavor(
    urls: list[str],
    username: str | None = None,
    password: str | None = None,
    timeout: float = 5.0,
) -> str:
    """Driver-side HTTP GET against each cluster root until one answers with
    a sniffable ``distribution`` (ZipkinElasticsearchStorage.java:77-128):
    basic auth when configured (the reference's authed probe,
    ElasticsearchDependenciesJobTest.authWorks traps exactly this header),
    unreachable hosts fall through, default "elasticsearch". stdlib urllib —
    a one-shot driver call, not a Spark op."""
    import base64
    import urllib.error
    import urllib.request

    def fetch(url: str) -> str | None:
        req = urllib.request.Request(url)
        if username is not None:
            token = base64.b64encode(
                f"{username}:{password or ''}".encode("utf-8")
            ).decode("ascii")
            req.add_header("Authorization", f"Basic {token}")
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                return resp.read().decode("utf-8", errors="replace")
        except (urllib.error.URLError, OSError, TimeoutError):
            return None

    return flavor_from_responses(fetch(u) for u in urls)


# -- env → engine config (ZipkinDependenciesJob.java:21-87, README.md:50-126) -

@dataclass
class EngineEnv:
    """The reference's env surface mapped onto the single Spark-native path.

    ``STORAGE_TYPE`` selected one of four hand-built pipelines; here it picks
    only the *parity profile* (day-filter semantics + trace-id strictness +
    source adapter) on one engine.
    """

    day_ms: int                       # UTC-midnight epoch millis
    spans_path: str
    links_path: str | None
    source_format: str                # parquet | json | v1 | es | cassandra | mysql
    day_filter: DayFilter
    strict_trace_id: bool
    master: str
    spark_conf: dict[str, str] = field(default_factory=dict)
    log_level: str = "INFO"
    #: the live store's settings (sources/backends.py; None for a file format)
    store: object = None
    write_back: bool = False          # LINKS_SINK=backend


_PROFILE = {  # STORAGE_TYPE → (day-filter parity, strict default honored)
    "cassandra3": (DayFilter.TRACE_ROOT, True),
    "mysql": (DayFilter.SPAN_WINDOW, False),
    "elasticsearch": (DayFilter.DAY_PARTITION, False),
    "opensearch": (DayFilter.DAY_PARTITION, False),
    "spark": (DayFilter.TRACE_ROOT, True),  # native profile
}

#: SPAN_FORMAT values: self-contained file formats, then the live stores
#: whose connectors can also take the links back (LINKS_SINK=backend)
_FILE_FORMATS = ("parquet", "json", "v1")
_LIVE_FORMATS = ("es", "cassandra", "mysql")
#: the SPAN_FORMAT values whose spans carry a ``day`` for F3 to keep
_DAY_FORMATS = ("parquet", "es")


def engine_env(
    environ: dict[str, str] | None = None,
    day_arg: str | None = None,
    now_ms: int | None = None,
) -> EngineEnv:
    """Assemble the run config exactly as the reference's main() does:
    day = argv[0] else "now" (ZipkinDependenciesJob.java:23), floored to UTC
    midnight; STORAGE_TYPE dispatch (:45-54) becomes a parity profile;
    STRICT_TRACE_ID defaults true (CassandraDependenciesJob.java:65) but only
    profiles that honor it apply it (ES grouping is always lenient,
    ElasticsearchDependenciesJob.java:181). An unknown STORAGE_TYPE,
    SPAN_FORMAT or LINKS_SINK raises ValueError, as does LINKS_SINK=backend
    with a file format, which has no connector to write through, and the
    F3 day_partition filter over a format whose spans carry no ``day``
    (it would keep no span). A live SPAN_FORMAT's store settings are built
    here too, once per run, from the same environment."""
    env = os.environ if environ is None else environ
    storage = env.get("STORAGE_TYPE", "spark")
    if storage not in _PROFILE:
        raise ValueError(f"unsupported STORAGE_TYPE: {storage}")
    day_filter, honors_strict = _PROFILE[storage]
    source_format = env.get("SPAN_FORMAT", "parquet")
    if source_format not in _FILE_FORMATS + _LIVE_FORMATS:
        raise ValueError(f"unsupported SPAN_FORMAT: {source_format}")
    links_sink = env.get("LINKS_SINK") or None
    if links_sink not in (None, "backend"):
        raise ValueError(f"unsupported LINKS_SINK: {links_sink}")
    if links_sink == "backend" and source_format not in _LIVE_FORMATS:
        raise ValueError(
            f"LINKS_SINK=backend needs a live SPAN_FORMAT "
            f"({' | '.join(_LIVE_FORMATS)}), not {source_format}"
        )

    if day_arg is not None:
        day_ms = parse_day(day_arg)
    else:
        now = now_ms if now_ms is not None else int(
            dt.datetime.now(dt.timezone.utc).timestamp() * 1000
        )
        day_ms = now
    day_ms = midnight_utc(day_ms)

    if day_filter is DayFilter.DAY_PARTITION and source_format not in _DAY_FORMATS:
        raise ValueError(
            f"STORAGE_TYPE={storage} keeps spans by day_partition, which needs "
            f"a SPAN_FORMAT whose spans carry a day "
            f"({' | '.join(_DAY_FORMATS)}), not SPAN_FORMAT={source_format}"
        )

    store = None
    if source_format in _LIVE_FORMATS:
        from .sources import backends

        store = {
            "es": backends.es_settings_from_env,
            "cassandra": backends.cassandra_settings_from_env,
            "mysql": backends.mysql_config_from_env,
        }[source_format](env)

    strict = env.get("STRICT_TRACE_ID", "true").lower() == "true"
    return EngineEnv(
        day_ms=day_ms,
        spans_path=env.get("SPANS_PATH", "spans"),
        links_path=env.get("LINKS_PATH") or None,
        source_format=source_format,
        day_filter=day_filter,
        strict_trace_id=strict and honors_strict,
        master=env.get("SPARK_MASTER", "local[*]"),
        spark_conf=parse_spark_conf(env.get("SPARK_CONF")),
        log_level=env.get("ZIPKIN_LOG_LEVEL", "INFO"),
        store=store,
        write_back=links_sink == "backend",
    )


# -- ES/OS daily index naming (S4/F3; ElasticsearchDependenciesJob.java:152-155,173-174)

def es_date_stamp(day: dt.date, date_separator: str = "-") -> str:
    """UTC date stamp with a configurable separator (``ES_DATE_SEPARATOR``,
    default '-'; '' yields yyyyMMdd) — the reference formats with
    'yyyy-MM-dd'.replace('-', sep)."""
    return day.strftime("-".join(("%Y", "%m", "%d")).replace("-", date_separator))


def es_span_index(prefix: str, day: dt.date, date_separator: str = "-") -> str:
    """``{prefix}-span-{date}`` — the daily span index the job reads. In our
    engine the daily index IS the ``day=`` partition directory; this helper
    exists for reading real index dumps laid out by date."""
    return f"{prefix}-span-{es_date_stamp(day, date_separator)}"


def es_dependency_index(prefix: str, day: dt.date, date_separator: str = "-") -> str:
    """``{prefix}-dependency-{date}`` — the daily output index."""
    return f"{prefix}-dependency-{es_date_stamp(day, date_separator)}"
