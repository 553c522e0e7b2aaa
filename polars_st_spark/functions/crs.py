"""CRS metadata helpers (reference: crs.rs:11-26, utils/srid.py:10-23).

The reference resolves SRID↔CRS via proj4rs; this runtime has no pyproj, so
a built-in table covers the common EPSG codes (WKT2 name + authority) and
the functions raise clearly for unknown codes. When pyproj is available it
is used transparently.
"""

from __future__ import annotations

__all__ = ["get_crs_from_code", "get_crs_authority",
           "st_crs_from_code", "st_crs_authority"]

_BUILTIN = {
    4326: ('GEOGCRS["WGS 84"', "EPSG", "WGS 84 geographic 2D (lat/lon degrees)"),
    3857: ('PROJCRS["WGS 84 / Pseudo-Mercator"', "EPSG", "Web Mercator (metres)"),
    4269: ('GEOGCRS["NAD83"', "EPSG", "NAD83 geographic 2D"),
    32633: ('PROJCRS["WGS 84 / UTM zone 33N"', "EPSG", "UTM 33N (metres)"),
    2154: ('PROJCRS["RGF93 v1 / Lambert-93"', "EPSG", "France Lambert-93 (LCC)"),
    3347: ('PROJCRS["NAD83 / Statistics Canada Lambert"', "EPSG", "Canada LCC"),
    3978: ('PROJCRS["NAD83 / Canada Atlas Lambert"', "EPSG", "Canada Atlas LCC"),
    32140: ('PROJCRS["NAD83 / Texas South Central"', "EPSG", "Texas South Central LCC (metres)"),
    5070: ('PROJCRS["NAD83 / Conus Albers"', "EPSG", "Conus Albers equal-area"),
    3577: ('PROJCRS["GDA94 / Australian Albers"', "EPSG", "Australian Albers equal-area"),
    3035: ('PROJCRS["ETRS89-extended / LAEA Europe"', "EPSG", "Europe Lambert azimuthal equal-area"),
}


def _family_name(code: int) -> str | None:
    """Human CRS name for the projection families the engine reprojects
    (functions/transform.py _TM_CODES / _CONIC_CODES / UTM ranges)."""
    if 32601 <= code <= 32660:
        return f"WGS 84 / UTM zone {code - 32600}N"
    if 32701 <= code <= 32760:
        return f"WGS 84 / UTM zone {code - 32700}S"
    if 25828 <= code <= 25838:
        return f"ETRS89 / UTM zone {code - 25800}N"
    if 26901 <= code <= 26923:
        return f"NAD83 / UTM zone {code - 26900}N"
    if 31466 <= code <= 31469:
        return f"DHDN / 3-degree Gauss-Kruger zone {code - 31464}"
    if 23028 <= code <= 23038:
        return f"ED50 / UTM zone {code - 23000}N"
    if 26703 <= code <= 26722:
        return f"NAD27 / UTM zone {code - 26700}N"
    if 28348 <= code <= 28358:
        return f"GDA94 / MGA zone {code - 28300}"
    if 7846 <= code <= 7859:
        return f"GDA2020 / MGA zone {code - 7800}"
    if 31965 <= code <= 31976:
        return f"SIRGAS 2000 / UTM zone {code - 31954}N"
    if 31977 <= code <= 31985:
        return f"SIRGAS 2000 / UTM zone {code - 31960}S"
    if 28402 <= code <= 28432:
        return f"Pulkovo 1942 / Gauss-Kruger zone {code - 28400}"
    return {
        3006: "SWEREF99 TM",
        3067: "ETRS89 / TM35FIN(E,N)",
        3034: "ETRS89-extended / LCC Europe",
        3005: "NAD83 / BC Albers",
        3338: "NAD83 / Alaska Albers",
        3832: "WGS 84 / PDC Mercator",
        27700: "OSGB36 / British National Grid",
        2193: "NZGD2000 / New Zealand Transverse Mercator 2000",
        3395: "WGS 84 / World Mercator",
        3031: "WGS 84 / Antarctic Polar Stereographic",
        3976: "WGS 84 / NSIDC Sea Ice Polar Stereographic South",
        3413: "WGS 84 / NSIDC Sea Ice Polar Stereographic North",
        3995: "WGS 84 / Arctic Polar Stereographic",
        28992: "Amersfoort / RD New",
        2229: "NAD83 / California zone 5 (ftUS)",
        2263: "NAD83 / New York Long Island (ftUS)",
        2056: "CH1903+ / LV95",
        21781: "CH1903 / LV03",
        29873: "Timbalai 1948 / RSO Borneo (m)",
        26931: "NAD83 / Alaska zone 1",
        5514: "S-JTSK / Krovak East North",
    }.get(code)


def get_crs_from_code(code: int) -> str:
    """SRID → CRS WKT definition (reference: crs.rs:11-18). Built-in WKT is
    abbreviated (name + ID clause — enough for authority round-trips and
    .prj sniffing); pyproj, when present, returns the full definition."""
    try:
        import pyproj

        return pyproj.CRS.from_epsg(code).to_wkt()
    except ImportError:
        pass
    if code in _BUILTIN:
        prefix = _BUILTIN[code][0]
        kind, _, name = prefix.partition("[")
        return f'{kind}[{name},ID["EPSG",{code}]]'
    name = _family_name(code)
    if name is not None:
        kind = "GEOGCRS" if code in (4326, 4269) else "PROJCRS"
        return f'{kind}["{name}",ID["EPSG",{code}]]'
    raise ValueError(
        f"Unknown EPSG code {code} (no pyproj in runtime; built-in table covers "
        f"{sorted(_BUILTIN)} plus the UTM/ETRS89/NAD83/Gauss-Kruger families)"
    )


def get_crs_authority(definition: str) -> tuple[str, str] | None:
    """CRS definition or 'AUTH:code' string → (authority, code)
    (reference: crs.rs:20-26)."""
    s = definition.strip()
    if ":" in s and "[" not in s:
        auth, _, code = s.partition(":")
        return (auth.upper(), code)
    try:
        import pyproj

        return pyproj.CRS.from_wkt(s).to_authority()
    except ImportError:
        pass
    for code, (wkt_prefix, auth, _) in _BUILTIN.items():
        if s.startswith(wkt_prefix):
            return (auth, str(code))
    import re

    hits = re.findall(r'(?:AUTHORITY|ID)\s*\[\s*"EPSG"\s*,\s*"?(\d+)"?\s*\]', s)
    if hits:
        return ("EPSG", hits[-1])
    return None


def st_crs_from_code(col):
    """Column form of :func:`get_crs_from_code` — per-row EPSG code →
    CRS WKT string (r5: graduates the crs helpers from driver-only to a
    distributed, oracle-checkable surface). Unknown codes → NULL (the
    driver form raises; a NULL is the elementwise convention)."""
    from polars_st_spark.functions.factory import col_or_lit, unary_scalar

    def one(v):
        try:
            return get_crs_from_code(int(v))
        except ValueError:
            return None

    return unary_scalar(one, "string")(col_or_lit(col))


def st_crs_authority(col):
    """Column form of :func:`get_crs_authority` — CRS WKT / 'AUTH:code'
    string → 'AUTH:code' string (None when undetectable)."""
    from polars_st_spark.functions.factory import col_or_lit, unary_scalar

    def one(v):
        a = get_crs_authority(str(v))
        return None if a is None else f"{a[0]}:{a[1]}"

    return unary_scalar(one, "string")(col_or_lit(col))
