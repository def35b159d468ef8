"""Seeded synthetic RFB CNPJ monthly drop for the ``month_load`` workload.

``write_drop(seed, portal_dir, fact_rows)`` writes the portal (one zip per
table part plus ``index.html``) and returns the truth a correct
``run_month`` must reproduce: raw and corrupt rows per table, the
expected ``LoadResult.passed`` per table, and the expected manifest
status per zip.

The drop has all ten tables. Empresas and Estabelecimentos ship in
several parts. Each part is latin-1, cp1252 or UTF-8 with a BOM.
About 1% of the fact rows are column-shifted (one ``;`` too many or
too few), a re-load slice repeats clean rows, two fact tables carry
validation violations (an empty essential column or a malformed
code), and one zip holds only an unroutable member.

Everything derives from ``random.Random(seed)``: the same seed gives a
byte-identical drop (zip entries carry a fixed timestamp), another
seed gives another drop of the same shape.
"""

from __future__ import annotations

import os
import random
import zipfile
from dataclasses import dataclass, field

_ZIP_DATE = (2024, 6, 1, 0, 0, 0)

# Accented Portuguese words; the cp1252 parts also use characters that
# only exist in cp1252 (0x80-0x9F), so the sniffer can tell the two
# 8-bit encodings apart.
_WORDS = (
    "AÇÃO", "SÃO", "PAULO", "COMÉRCIO", "INDÚSTRIA", "SERVIÇOS", "LTDA",
    "ÓTICA", "PADARIA", "JOÃO", "JOSÉ", "CONCEIÇÃO", "ATACADÃO", "BRASÍLIA",
    "GOIÂNIA", "MARANHÃO", "TRANSPORTES", "CONSTRUÇÃO", "ALIMENTAÇÃO",
    "FARMÁCIA", "MECÂNICA", "ELÉTRICA", "EIRELI", "ME", "SA",
)
_CP1252_ONLY = ("–", "“", "”", "€", "™")
_UFS = ("SP", "RJ", "MG", "BA", "PR", "RS", "PE", "CE", "PA", "SC", "GO", "DF")
_ENCODINGS = ("latin-1", "cp1252", "utf-8-sig")

# table -> (zip stem, member suffix, parts)
_TABLES = {
    "rfb_empresas": ("Empresas", "EMPRECSV", 3),
    "rfb_estabelecimentos": ("Estabelecimentos", "ESTABELE", 3),
    "rfb_socios": ("Socios", "SOCIOCSV", 1),
    "rfb_simples": ("Simples", "SIMPLES", 1),
    "rfb_cnaes": ("Cnaes", "CNAECSV", 1),
    "rfb_motivos": ("Motivos", "MOTICSV", 1),
    "rfb_municipios": ("Municipios", "MUNICCSV", 1),
    "rfb_naturezas": ("Naturezas", "NATJUCSV", 1),
    "rfb_paises": ("Paises", "PAISCSV", 1),
    "rfb_qualificacoes": ("Qualificacoes", "QUALSCSV", 1),
}
_FACTS = ("rfb_empresas", "rfb_estabelecimentos", "rfb_socios", "rfb_simples")
_DIM_ROWS = {
    "rfb_cnaes": 1300,
    "rfb_motivos": 60,
    "rfb_municipios": 5600,
    "rfb_naturezas": 90,
    "rfb_paises": 250,
    "rfb_qualificacoes": 80,
}
# share of the drop's fact rows per table (estabelecimentos dominate,
# as in real months)
_FACT_SHARE = {
    "rfb_empresas": 0.3,
    "rfb_estabelecimentos": 0.4,
    "rfb_socios": 0.2,
    "rfb_simples": 0.1,
}
UNROUTABLE_ZIP = "Leiame.zip"


@dataclass
class DropTruth:
    raw_rows: dict[str, int] = field(default_factory=dict)
    corrupt_rows: dict[str, int] = field(default_factory=dict)
    passed: dict[str, bool] = field(default_factory=dict)
    zip_status: dict[str, str] = field(default_factory=dict)
    flaky_zip: str = ""
    raw_bytes: int = 0


def _name(rng: random.Random, cp1252: bool) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randint(2, 4))]
    if cp1252:
        words.insert(1, rng.choice(_CP1252_ONLY))
    return " ".join(words)


def _date(rng: random.Random) -> str:
    if rng.random() < 0.05:
        return "00000000"
    return f"{rng.randint(1970, 2024)}{rng.randint(1, 12):02d}{rng.randint(1, 28):02d}"


def _cnpj(i: int) -> str:
    return f"{i:08d}"


def _empresa(rng, i, cp, bad):
    razao = "" if bad else _name(rng, cp)
    capital = f"{rng.randint(0, 10_000_000)},{rng.randint(0, 99):02d}"
    return [
        _cnpj(i), razao, str(rng.randint(1000, 3999)), str(rng.randint(1, 79)),
        capital, rng.choice(("00", "01", "03", "05")), "",
    ]


def _estabelecimento(rng, i, cp, bad):
    sec = ",".join(str(rng.randint(1000000, 9999999)) for _ in range(rng.randint(0, 3)))
    return [
        _cnpj(i), f"{rng.randint(1, 9999):04d}", f"{rng.randint(0, 99):02d}",
        rng.choice(("1", "2")), _name(rng, cp), rng.choice(("01", "02", "03", "08")),
        _date(rng), str(rng.randint(0, 60)), "", "105", _date(rng),
        str(rng.randint(1000000, 9999999)), sec, "RUA", _name(rng, cp),
        str(rng.randint(1, 9999)), "", "CENTRO", f"{rng.randint(0, 99999999):08d}",
        "X9" if bad else rng.choice(_UFS), str(rng.randint(1, 9999)),
        "11", f"{rng.randint(10000000, 99999999)}", "", "", "", "",
        "contato@empresa.com.br", "", "",
    ]


def _socio(rng, i, cp, bad):
    return [
        _cnpj(i), "" if bad else rng.choice(("1", "2", "3")), _name(rng, cp),
        f"***{rng.randint(0, 999999):06d}**", str(rng.randint(1, 79)), _date(rng),
        "", "***000000**", "", "00", str(rng.randint(0, 9)),
    ]


def _simples(rng, i, cp, bad):
    return [
        ("9" + _cnpj(i)) if bad else _cnpj(i), rng.choice("SN"), _date(rng),
        _date(rng), rng.choice("SN"), _date(rng), _date(rng),
    ]


_FACT_ROW = {
    "rfb_empresas": _empresa,
    "rfb_estabelecimentos": _estabelecimento,
    "rfb_socios": _socio,
    "rfb_simples": _simples,
}


def _shift(rng: random.Random, fields: list[str]) -> list[str]:
    """A column-shifted copy: one field dropped or one extra field."""
    if rng.random() < 0.5:
        return fields[:-1]
    return fields + ["DESLOCADO"]


def _table_lines(
    rng, table, n_rows, violating, cp1252
) -> tuple[list[str], int, bool]:
    """(lines, n_corrupt, passes_validation) for one table's month."""
    lines: list[str] = []
    n_corrupt = 0
    n_violations = 0
    if table in _FACTS:
        make = _FACT_ROW[table]
        clean: list[str] = []
        for i in range(n_rows):
            bad = violating and i % 97 == 0
            fields = make(rng, rng.randint(0, 99_999_999), cp1252, bad)
            if rng.random() < 0.01:
                fields = _shift(rng, fields)
                n_corrupt += 1
                lines.append(";".join(fields))
            else:
                line = ";".join(fields)
                lines.append(line)
                clean.append(line)
                n_violations += bad
        # the accidental re-load slice: ~2% of the clean rows again
        lines.extend(clean[: len(clean) // 50])
    else:
        for code in range(n_rows):
            lines.append(f"{code:04d};{_name(rng, cp1252)}")
    return lines, n_corrupt, n_violations == 0


def _write_zip(path: str, member: str, payload: bytes) -> None:
    info = zipfile.ZipInfo(member, date_time=_ZIP_DATE)
    info.compress_type = zipfile.ZIP_DEFLATED
    info.external_attr = 0o644 << 16
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(info, payload, compresslevel=1)


def write_drop(seed: int, portal_dir: str, fact_rows: int) -> DropTruth:
    """Write the month's portal under ``portal_dir``; return its truth.

    ``fact_rows`` is the number of generated fact rows before the
    re-load slice; the dimensions have fixed sizes.
    """
    rng = random.Random(seed)
    os.makedirs(portal_dir, exist_ok=True)
    truth = DropTruth()
    violating = set(rng.sample(_FACTS, 2))
    zips: list[str] = []
    for table, (stem, suffix, n_parts) in _TABLES.items():
        n_rows = (
            int(fact_rows * _FACT_SHARE[table]) if table in _FACTS
            else _DIM_ROWS[table]
        )
        encodings = [rng.choice(_ENCODINGS) for _ in range(n_parts)]
        # cp1252-only characters appear only when every part can encode
        # them (latin-1 cannot)
        lines, n_corrupt, passes = _table_lines(
            rng, table, n_rows, table in violating,
            cp1252="latin-1" not in encodings,
        )
        truth.raw_rows[table] = len(lines)
        truth.corrupt_rows[table] = n_corrupt
        truth.passed[table] = passes
        status = "sucesso" if truth.passed[table] else "falhou"
        for part in range(n_parts):
            chunk = lines[part::n_parts]
            zip_name = f"{stem}{part}.zip" if n_parts > 1 else f"{stem}.zip"
            member = f"K3241.K0{seed % 1000:03d}{part}Y{part}.D40608.{suffix}"
            payload = ("\n".join(chunk) + "\n").encode(encodings[part])
            truth.raw_bytes += len(payload)
            _write_zip(os.path.join(portal_dir, zip_name), member, payload)
            truth.zip_status[zip_name] = status
            zips.append(zip_name)
    _write_zip(
        os.path.join(portal_dir, UNROUTABLE_ZIP),
        "LEIAME.TXT",
        "layout dos arquivos: ver dicionario de dados\n".encode(),
    )
    truth.zip_status[UNROUTABLE_ZIP] = "ignorada"
    zips.append(UNROUTABLE_ZIP)
    truth.flaky_zip = rng.choice(zips)
    anchors = "".join(f'<a href="{z}">{z}</a><br>\n' for z in zips)
    with open(os.path.join(portal_dir, "index.html"), "w", encoding="utf-8") as f:
        f.write(f"<html><body><h1>Index of /cnpj</h1>\n{anchors}</body></html>\n")
    return truth
