"""Empty-input robustness: operators must return empty frames with the
right schema — not crash — when a source has zero rows (a real state for
intraday windows before data lands, reference
consumo_detalle_hora.py:58-62's empty-range guard)."""

from __future__ import annotations

import os

import pytest

from etl_python_airflow_bigquery_spark.queries import REGISTRY
from etl_python_airflow_bigquery_spark.tables import TABLES, load_table

SMOKE = [
    "indicadores_total",
    "funnel_vip",
    "programas_live",
    "superposicion_hora",
    "sessionization",
    "dedup_ngram_jaccard",
    "bloques_pivot",
    "acumulado_diario",
    "similarity_lsh_multi",
    "perfil_usuario_bucketed",
    "superposicion_hora_selfjoin",
    "muestra_estratificada",
    "corpus_curado",
    "percentiles_pedidos",
    # late-r4 operator families
    "cuantizacion_producto",
    "similarity_pq_search",
    "bpe_fusiones",
    "sketch_cms_tokens",
    "sketch_histograma_cuantiles",
    "fuga_particiones",
    "zorden_poda",
    "tendencia_ewma",
    "busqueda_invertida",
    "streaming_busqueda_hibrida",
    "cadena_markov",
    # round-5 operator families
    "superposicion_programas",
    "dedup_subcadenas",
    "muestreo_temperatura",
    "ley_heaps",
    "busqueda_frases",
    "reglas_gopher",
    "streaming_reglas_calidad",
    "idioma_confusion",
    "sesgo_duplicados",
    "temas_centroides",
    "dedup_subcadenas_incremental",
    "corpus_sin_subcadenas",
    "corpus_sin_subcadenas_incremental",
    "bpe_codificacion",
    "streaming_cortes_subcadenas",
    "deriva_vocabulario",
    "dimension_truncada",
    "particion_familias",
    "muestreo_negativos",
    "atipicos_embeddings",
    "error_muestreo",
    "similitud_fuentes",
    # colisiones_hash is NOT here: fixed 2-row per-space audit on empty
    # funnel_ventana is NOT here: global scalar row (zeros) on empty,
    # matching its oracle
    # embudo_curacion is NOT here: fixed 4-stage funnel rows on empty
    # longitud_contexto is NOT here: fixed 3-row candidate grid on empty
    # grafo_kcore is NOT here: on empty input it returns its fixed
    # 5-round trace with zero counts (matching the unrolled oracle),
    # not an empty frame — the fixed-trace class
    # evaluacion_recuperacion is NOT here: on an empty corpus it returns
    # its fixed 4-row k-grid with zero metrics (matching its oracle's
    # LEFT JOIN ON TRUE), not an empty frame — the grid-completion class
    "equilibrio_etiquetas",
    "anomalias_trafico",
    "atribucion_multitoque",
    "rfm_segmentacion",
    "similarity_ivf_kmeans",
    "similarity_ivfpq_search",
    "similarity_ivfpq_residual",
    "busqueda_bm25",
    "similitud_items_cf",
    "vinculacion_registros",
    "sketch_hll_registros",
    "grafo_pagerank",
    "barajado_global",
    "secuencias_multimodales",
    "asociacion_reglas",
    "deteccion_bots",
    "pronostico_holt",
    "indice_estacional",
    "grafo_bfs",
    "diversidad_fuentes",
    "cambio_estructural",
    "anomalias_mad",
    "pareto_consumo",
    "proporcion_plantillas",
    "cobertura_vocabulario",
    "correlacion_tipos",
    "calibracion_lsh",
    "ingresos_por_nacion",
    "ventana_particionada",
    "retraso_envios",
    "grafo_grados",
    "frescura_datos",
    "dedup_clusters_incremental",
    "rachas_actividad",
    "colocaciones_pmi",
    "migracion_estados",
    "afinidad_segmentos",
    "t_cercania",
    "ponderacion_importancia",
    "negativos_dificiles",
    "fusion_rrf",
    "fertilidad_tokenizador",
    "mezcla_idiomas",
    "tabla_vida",
    "calibracion_calidad",
    "presupuesto_epocas",
    "cobertura_lsh",
    "busqueda_hibrida",
    "secuencias_frecuentes",
    # round-8 operator families
    "dedup_semantico",
    "puntuacion_mmr",
    "ley_zipf",
    "seleccion_coreset",
    "tamanos_familias",
    "cuotas_fuentes",
    "comercio_bilateral",
    "grafo_knn_mutuo",
    "palabras_oov",
    "agrupacion_densidad",
    "etiquetado_debil",
    "deriva_embeddings",
    "crecimiento_interanual",
    "mercado_participacion",
    "bucketizacion_longitud",
    "ngramas_caracteristicos",
    "muestreo_fotogramas",
    "streaming_etiquetado_debil",
    "streaming_cuotas_fuentes",
    "tiempo_entre_eventos",
    # round-9 hierarchical 2-probe family
    "streaming_reglas_ventana",
    "proveedores_morosos",
    "stock_excedente",
    "clientes_sin_contacto",
    "cuantizacion_escalar",
    "pureza_celdas",
    "clasificador_knn",
    "puntuacion_maxsim",
    "solapamiento_semantico_fuentes",
    "variedad_proveedores",
    "distribucion_pedidos",
    "latencia_conversion",
    "prioridad_pedidos",
    "demanda_fraccionada",
    "clientes_volumen",
    # round-11 promotion: the flat K_CAP baselines keep their
    # empty-input pin under the demoted *_plano names (the production
    # names above now run the hierarchical forms)
    "dedup_semantico_plano",
    "grafo_knn_mutuo_plano",
    "agrupacion_densidad_plana",
    # round-11 stored-index serving rows (build on empty corpus falls
    # back to the zero-centroid sentinel; zero queries/arrivals => empty)
    "busqueda_maxsim_indexada",
    "etiquetar_por_vecinos",
    "asignacion_k_grande",
    "busqueda_hibrida_indexada",
    "deriva_recall_indexada",
    # round-11 relational depth (Q3/Q10/Q14/Q19 shapes)
    "prioridad_envio",
    "clientes_devoluciones",
    "ingreso_brackets",
    "senales_repeticion",
    "streaming_senales_repeticion",
    # cuota_promocional is NOT here: on empty input it returns one
    # global row with NULL sums (matching the oracle's global agg)
    # proveedor_estrella: the global-max equality against a NULL max
    # matches nothing, so the empty input yields an empty frame (verified)
    "proveedor_estrella",
    # cobertura_sondas is NOT here: global scalar row (0, 0, 0) on
    # empty, matching its oracle — the global-aggregate class
    # curva_umbral_dedup is NOT here: on empty input it returns its
    # fixed 6-row threshold grid with zero counts (matching the
    # oracle's VALUES grid + correlated counts) — the grid class
    # correlacion_rangos is NOT here: global scalar row (0, 0, NULL)
    # on empty, matching its oracle — the global-aggregate class
    # resumen_corpus is NOT here: the datasheet row (zero counts, NULL
    # means — div-by-zero guarded) on empty, matching its oracle
]


@pytest.fixture(scope="module")
def empty_sf_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("empty_sf"))
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        df.limit(0).write.mode("overwrite").parquet(os.path.join(out, f"{t}.parquet"))
    return out


@pytest.mark.parametrize("name", SMOKE)
def test_query_survives_empty_tables(spark, empty_sf_dir, name):
    df = REGISTRY[name].fn(spark, empty_sf_dir)
    assert df.count() == 0
    assert len(df.columns) > 0
