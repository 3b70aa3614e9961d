"""The warehouse seen from outside the engine: the history a run starts from, the
answer checks after a load, and the store's file layout.

History is written in the engine's own layout (one Parquet directory per table,
the monthly tables partitioned by `data_referencia=YYYY-MM-DD`) with the rows a
`pipeline.Main` load of those months leaves behind, computed by the generator.
Checks read the tables with DuckDB and compare them with the generator's answers.
"""

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import sinapi_gen as gen

MONEY = pa.decimal128(18, 6)
SCHEMAS = {
    "insumos": [("codigo", pa.int32()), ("descricao", pa.string()), ("unidade", pa.string()),
                ("classificacao", pa.string()), ("status", pa.string())],
    "composicoes": [("codigo", pa.int32()), ("descricao", pa.string()), ("unidade", pa.string()),
                    ("grupo", pa.string()), ("status", pa.string())],
    "precos_insumos_mensal": [("insumo_codigo", pa.int32()), ("uf", pa.string()),
                              ("regime", pa.string()), ("preco_mediano", MONEY)],
    "custos_composicoes_mensal": [("composicao_codigo", pa.int32()), ("uf", pa.string()),
                                  ("regime", pa.string()), ("custo_total", MONEY)],
    "composicao_insumos": [("composicao_pai_codigo", pa.int32()),
                           ("insumo_filho_codigo", pa.int32()), ("coeficiente", MONEY)],
    "composicao_subcomposicoes": [("composicao_pai_codigo", pa.int32()),
                                  ("composicao_filho_codigo", pa.int32()), ("coeficiente", MONEY)],
    "manutencoes_historico": [("item_codigo", pa.int32()), ("tipo_item", pa.string()),
                              ("tipo_manutencao", pa.string()), ("descricao_item", pa.string())],
}
PARTITIONED = {"precos_insumos_mensal", "custos_composicoes_mensal", "manutencoes_historico"}


def _write(path, table, rows):
    os.makedirs(path, exist_ok=True)
    fields = SCHEMAS[table]
    cols = list(zip(*rows)) if rows else [[] for _ in fields]
    arrays = [pa.array(list(c), type=t) for c, (_, t) in zip(cols, fields)]
    pq.write_table(pa.Table.from_arrays(arrays, names=[n for n, _ in fields]),
                   os.path.join(path, "part-00000-history.parquet"))


def write_history(world, months, root):
    """Write the warehouse as loading `months` (0..k, in order) would leave it."""
    last = months[-1]
    deact = world.deactivated(last)

    def status(tipo, code):
        return "DESATIVADO" if code in deact[tipo] else "ATIVO"
    ins = [(c, world.ins_info[c][0], world.ins_info[c][1], None, status("INSUMO", c))
           for c in world.ins_codes]
    ins += [(c, f"INSUMO FORA DO CATÁLOGO {c}", "UN", None, "ATIVO") for c in world.missing_ins]
    comp = [(c, *world.comp_info[c], None, status("COMPOSICAO", c)) for c in world.comp_codes]
    comp += [(c, f"COMPOSIÇÃO FORA DO CATÁLOGO {c}", "UN", None, "ATIVO")
             for c in world.missing_comp]
    _write(os.path.join(root, "insumos"), "insumos", ins)
    _write(os.path.join(root, "composicoes"), "composicoes", comp)
    edges = world.edges(last)
    _write(os.path.join(root, "composicao_insumos"), "composicao_insumos",
           [(p, c, k) for (p, t, c), k in edges.items() if t == "INSUMO"])
    _write(os.path.join(root, "composicao_subcomposicoes"), "composicao_subcomposicoes",
           [(p, c, k) for (p, t, c), k in edges.items() if t == "COMPOSICAO"])
    for m in months:
        part = f"data_referencia={gen.month_key(m)}"
        for table, values in (("precos_insumos_mensal", world.prices(m)),
                              ("custos_composicoes_mensal", world.costs(m))):
            _write(os.path.join(root, table, part), table,
                   [(c, uf, regime, v) for (regime, c, uf), v in values.items() if v is not None])
    by_month = {}
    for em, tipo, code, kind in world.events_until(last):
        d = world.ins_info[code][0] if tipo == "INSUMO" else world.comp_info[code][0]
        by_month.setdefault(em, []).append((code, tipo, kind, d))
    for em, rows in by_month.items():
        _write(os.path.join(root, "manutencoes_historico", f"data_referencia={gen.month_key(em)}"),
               "manutencoes_historico", rows)


def check_load(world, month, root):
    """Compare the warehouse after loading months 0..`month` with the generator's
    answers: rows per table, FK closure after placeholder repair, DESATIVADO sets
    and the catalogs' descriptions.
    Returns a list of failure descriptions (empty when every check passes)."""
    exp = world.expected_tables(month)
    con = duckdb.connect()
    failures = []

    def rel(table):
        files = os.path.join(root, table, "**", "*.parquet")
        hive = "true" if table in PARTITIONED else "false"
        return f"read_parquet('{files}', hive_partitioning={hive})"

    def has_files(table):
        for _, _, names in os.walk(os.path.join(root, table)):
            if any(n.endswith(".parquet") for n in names):
                return True
        return False

    def q(sql):
        return con.execute(sql).fetchall()

    for table, want in exp["rows"].items():
        got = q(f"SELECT count(*) FROM {rel(table)}")[0][0] if has_files(table) else 0
        if got != want:
            failures.append(f"rows({table}) = {got}, expected {want}")
    if has_files("composicao_insumos") and has_files("composicao_subcomposicoes"):
        orphans = {
            "composicao_insumos.insumo_filho_codigo":
                f"SELECT count(*) FROM {rel('composicao_insumos')} WHERE insumo_filho_codigo "
                f"NOT IN (SELECT codigo FROM {rel('insumos')})",
            "composicao_subcomposicoes.composicao_filho_codigo":
                f"SELECT count(*) FROM {rel('composicao_subcomposicoes')} WHERE "
                f"composicao_filho_codigo NOT IN (SELECT codigo FROM {rel('composicoes')})",
            "composicao_pai_codigo":
                f"SELECT count(*) FROM (SELECT composicao_pai_codigo c FROM "
                f"{rel('composicao_insumos')} UNION ALL SELECT composicao_pai_codigo FROM "
                f"{rel('composicao_subcomposicoes')}) WHERE c NOT IN "
                f"(SELECT codigo FROM {rel('composicoes')})",
        }
        for what, sql in orphans.items():
            n = q(sql)[0][0]
            if n:
                failures.append(f"FK closure: {n} {what} values missing from the catalog")
    for tipo, table in (("INSUMO", "insumos"), ("COMPOSICAO", "composicoes")):
        got = ([r[0] for r in q(f"SELECT codigo FROM {rel(table)} WHERE status = 'DESATIVADO' "
                                "ORDER BY codigo")] if has_files(table) else [])
        want = exp["desativados"][tipo]
        if got != want:
            failures.append(f"DESATIVADO {table}: {len(got)} codes, expected {len(want)} "
                            f"(first differences: {sorted(set(got) ^ set(want))[:5]})")
    for table, info in (("insumos", world.ins_info), ("composicoes", world.comp_info)):
        got = dict(q(f"SELECT codigo, descricao FROM {rel(table)}")) if has_files(table) else {}
        bad = [c for c in info if c in got and got[c] != info[c][0]]
        if bad:
            failures.append(f"descricao({table}): {len(bad)} of {len(info)} differ from the "
                            f"workbooks, e.g. {bad[0]}: {got[bad[0]]!r} for {info[bad[0]][0]!r}")
    con.close()
    return failures


def layout(root):
    """(live files, live bytes, max data files in one partition or table directory),
    leaving out the engine's `.staging` scratch directory."""
    files = size = 0
    per_dir = {}
    for d, dirs, names in os.walk(root):
        dirs[:] = [x for x in dirs if x != ".staging"]
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
            if n.endswith(".parquet"):
                per_dir[d] = per_dir.get(d, 0) + 1
    return files, size, max(per_dir.values(), default=0)

