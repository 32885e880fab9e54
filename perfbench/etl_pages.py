"""Seeded hourly report pages for the etl_hourly workload, and the
last-write-wins reference the ETL store is checked against.

Pages are built from the library's report fixture: the date line, the
scalar divs and both station tables are replaced, everything else
(markup, scripts, header rows) stays as the fixture has it. A page keeps
the fixture's form: accented text as HTML entities, a lower-case month
name, and one malformed row in each station table.

What varies is drawn from the seed: the stations reporting, their levels
(a missing level is a row without an icon) and pollutants, the
temperature and the recommendation texts, uniformly from the lists
below. Which pages re-send an earlier hour and which carry an
unparseable date is seeded too, but how many is fixed by the caller, so
every seed does the same amount of work on each path. These draws are
assumed, not measured traffic.
"""
import datetime
import random
import re
import unicodedata
from collections import Counter

CDMX = [("AJM", "Álvaro Obregón"), ("COY", "Coyoacán"), ("TLA", "Tláhuac"),
        ("GAM", "Gustavo A. Madero"), ("BJU", "Benito Juárez"),
        ("CUA", "Cuajimalpa de Morelos"), ("IZT", "Iztapalapa"),
        ("MER", "Venustiano Carranza"), ("MGH", "Miguel Hidalgo"),
        ("MPA", "Milpa Alta"), ("AZC", "Azcapotzalco"), ("CAM", "Cuauhtémoc"),
        ("XOC", "Xochimilco"), ("PED", "La Magdalena Contreras"),
        ("SFE", "Tlalpan"), ("IZC", "Iztacalco")]
EDOMEX = [("NEZ", "Nezahualcóyotl"), ("ECA", "Ecatepec de Morelos"),
          ("TLI", "Tultitlán"), ("ATI", "Atizapán de Zaragoza"),
          ("CUT", "Cuautitlán Izcalli"), ("NAU", "Naucalpan de Juárez"),
          ("TLN", "Tlalnepantla de Baz"), ("CHO", "Chalco"),
          ("VIF", "Coacalco de Berriozábal"), ("TEC", "Texcoco")]
LEVELS = ["buena", "aceptable", "regular", "mala", "muy_mala",
          "extremadamente_mala", None]
POLLUTANTS = ["O3", "PM10", "PM2.5", "CO", "NO2", "SO2"]
WEEKDAYS = ["lunes", "martes", "miércoles", "jueves", "viernes", "sábado", "domingo"]
MONTHS = ["enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
          "agosto", "septiembre", "octubre", "noviembre", "diciembre"]
UV = ["Usa protector solar y lentes con filtro UV",
      "Evita exponerte al sol entre 11 y 16 h",
      "Riesgo bajo: puedes salir con precaución",
      "Usa sombrero, manga larga y protección"]
FORECAST = ["Buena", "Aceptable", "Regular", "Mala", "Muy mala"]
ENTITIES = {"á": "&aacute;", "é": "&eacute;", "í": "&iacute;", "ó": "&oacute;",
            "ú": "&uacute;", "ñ": "&ntilde;", "Á": "&Aacute;"}


def normalize(s):
    """normalize_text's semantics: NFKD, drop non-ASCII, lower-case,
    spaces to underscores."""
    if s is None:
        return None
    d = unicodedata.normalize("NFKD", s)
    return "".join("_" if c == " " else c.lower() for c in d if ord(c) < 128)


def _escape(s):
    return "".join(ENTITIES.get(c, c) for c in s)


def _rows(rng, pool):
    """Station rows in a seeded order: a subset of the pool and one
    malformed row. Returns (html, [(code, name, level, pollutant)])."""
    picked = rng.sample(pool, rng.randint(len(pool) * 6 // 10, len(pool)))
    out, rows = [], []
    for code, name in picked:
        level, pol = rng.choice(LEVELS), rng.choice(POLLUTANTS)
        img = (f'<img src="/assets/iconos/{level}.svg" alt="{level}">'
               if level else "")
        out.append(f"      <tr>\n        <td>{code}</td><td>{_escape(name)}</td>\n"
                   f"        <td>{img}</td><td>{pol}</td>\n      </tr>")
        rows.append((code, name, level, pol))
    out.insert(rng.randint(0, len(out)),
               '      <tr><td colspan="2">fila mal formada</td><td>x</td></tr>')
    return "\n".join(out), rows


def _replace_table(page, div_id, body):
    rx = re.compile(r'(<div id="%s">\s*<table[^>]*>\s*<tr>.*?</tr>\s*<tr>.*?</tr>\n)(.*?)(\s*</table>)'
                    % div_id, re.S)
    out, n = rx.subn(lambda m: m.group(1) + body + m.group(3), page)
    assert n == 1, f"fixture layout changed: table {div_id}"
    return out


def _replace_div(page, div_id, text):
    out, n = re.subn(r'(<div id="%s">)[^<]*(</div>)' % div_id,
                     lambda m: m.group(1) + text + m.group(2), page)
    assert n == 1, f"fixture layout changed: div {div_id}"
    return out


def _replace_forecast(page, today, tomorrow):
    rx = re.compile(r'(<div id="pronosticoaire">\s*<div>[^<]*</div>\s*<div>)[^<]*'
                    r'(</div>\s*<div>[^<]*</div>\s*<div>)[^<]*(</div>)', re.S)
    out, n = rx.subn(lambda m: m.group(1) + today + m.group(2) + tomorrow + m.group(3), page)
    assert n == 1, "fixture layout changed: forecast"
    return out


def generate(fixture, seed, n_pages, n_resent, n_bad):
    """n_pages hourly pages, in send order: n_resent of them re-send an
    earlier hour (the ON CONFLICT update path) and n_bad carry an
    unparseable date (the validation gate). Each page is a dict with its
    html, whether its date is bad, and the values a correct ETL keeps."""
    rng = random.Random(seed)
    base = datetime.datetime(2025, 1, 1) + datetime.timedelta(days=rng.randrange(0, 360))
    resends = set(rng.sample(range(1, n_pages), n_resent))
    bads = set(rng.sample(range(n_pages), n_bad))
    pages, sent, hour = [], [], 0
    for i in range(n_pages):
        if i in resends:
            ts = rng.choice(sent)
        else:
            ts = base + datetime.timedelta(hours=hour)
            hour += 1
            sent.append(ts)
        month = MONTHS[ts.month - 1]
        weekday = WEEKDAYS[ts.weekday()]
        date_text = f"{ts.hour:02d}:00 h, {weekday} {ts.day} de {month} de {ts.year}"
        bad = i in bads
        if bad:
            date_text = rng.choice([
                f"{ts.hour:02d}:00 h, {weekday} {ts.day} de {month}o de {ts.year}",
                f"xx:00 h, {weekday} {ts.day} de {month} de {ts.year}",
                f"{ts.hour:02d}:00 h, {weekday} {ts.day} de {month}"])
        temp = rng.randint(4, 34)
        uv = rng.choice(UV)
        today, tomorrow = rng.choice(FORECAST), rng.choice(FORECAST)
        cdmx_html, cdmx = _rows(rng, CDMX)
        edomex_html, edomex = _rows(rng, EDOMEX)
        page = _replace_div(fixture, "textohora", _escape(date_text))
        page = _replace_div(page, "textotemperatura", f"{temp}&nbsp;°C")
        page = _replace_div(page, "recomendacioniuv", _escape(uv))
        page = _replace_forecast(page, _escape(today), _escape(tomorrow))
        page = _replace_table(page, "tabladf", cdmx_html)
        page = _replace_table(page, "tablaedomex", edomex_html)
        pages.append({"name": f"{i:04d}", "html": page, "bad": bad, "ts": ts,
                      "weekday": weekday, "month": month, "temp": temp, "uv": uv,
                      "today": today, "tomorrow": tomorrow, "cdmx": cdmx, "edomex": edomex})
    return pages


def _report_ts(ts):
    return ts.year * 1000000 + ts.month * 10000 + ts.day * 100 + ts.hour


def _station(p, code, name, level, pol, name_col):
    return {"report_ts": _report_ts(p["ts"]), "clave_str": normalize(code),
            name_col: normalize(name), "calidad_del_aire_str": level,
            "parametro_str": normalize(pol), "week_day_str": normalize(p["weekday"]),
            "month_day_num": p["ts"].day, "month_name_str": normalize(p["month"]),
            "month_num": p["ts"].month, "year_num": p["ts"].year, "hour_num": p["ts"].hour}


def expected(pages):
    """Last-write-wins state of the three keyed tables after every good
    page is upserted in order (nupdates counts the writes of a key), and
    the backfill's readings (every cdmx row of every good page)."""
    tables = {"cdmx": {}, "edomex": {}, "gral_stats": {}}
    readings = []
    for p in pages:
        if p["bad"]:
            continue
        rts = _report_ts(p["ts"])
        for table, name_col in (("cdmx", "alcaldia_str"), ("edomex", "municipio_str")):
            for row in p[table]:
                r = _station(p, *row, name_col)
                key = (rts, r["clave_str"])
                r["nupdates"] = tables[table].get(key, {}).get("nupdates", 0) + 1
                tables[table][key] = r
                if table == "cdmx":
                    readings.append({k: v for k, v in r.items() if k != "nupdates"})
        g = {"report_ts": rts, "temp_celsius_int": p["temp"], "reco_uiv_str": normalize(p["uv"]),
             "score_air_str": normalize(p["today"]),
             "score_air_next_day_str": normalize(p["tomorrow"]),
             "week_day_str": normalize(p["weekday"]), "month_day_num": p["ts"].day,
             "month_name_str": normalize(p["month"]), "month_num": p["ts"].month,
             "year_num": p["ts"].year, "hour_num": p["ts"].hour}
        g["nupdates"] = tables["gral_stats"].get(rts, {}).get("nupdates", 0) + 1
        tables["gral_stats"][rts] = g
    out = {t: list(v.values()) for t, v in tables.items()}
    out["readings"] = readings
    return out


def user_bytes(pages):
    """Bytes of the conformed rows the hourly batches hand to the store:
    UTF-8 length of each string, 8 bytes per key/timestamp, 4 per int."""
    total = 0
    for p in pages:
        if p["bad"]:
            continue
        for table, name_col in (("cdmx", "alcaldia_str"), ("edomex", "municipio_str")):
            for row in p[table]:
                r = _station(p, *row, name_col)
                total += 8 * 3 + 4 * 5 + sum(len((r[k] or "").encode()) for k in (
                    "clave_str", name_col, "calidad_del_aire_str", "parametro_str",
                    "week_day_str", "month_name_str"))
        total += 8 * 3 + 4 * 6 + sum(len((normalize(x) or "").encode()) for x in (
            p["uv"], p["today"], p["tomorrow"], p["weekday"], p["month"]))
    return total


def rows_per_batch(pages):
    good = [p for p in pages if not p["bad"]]
    return sum(len(p["cdmx"]) + len(p["edomex"]) + 1 for p in good) / max(len(good), 1)


def compare(name, got, want, columns):
    """Order-insensitive multiset compare of `got` (a DataFrame) with the
    reference rows. Returns an error string or None."""
    have = Counter(tuple(_plain(r[c]) for c in columns) for r in got.to_dict("records"))
    need = Counter(tuple(_plain(r[c]) for c in columns) for r in want)
    if have == need:
        return None
    extra = list((have - need).elements())[:2]
    missing = list((need - have).elements())[:2]
    return (f"{name}: {sum(have.values())} rows vs {sum(need.values())} expected; "
            f"extra {extra}; missing {missing}")


def _plain(v):
    if v is None:
        return None
    if isinstance(v, float) and v != v:
        return None
    if hasattr(v, "item"):
        v = v.item()
    return v
