package graft

/** The docs/vectors DuckDB oracle prelude (see Oracle.scala): the shared
  * CTEs that re-derive the docs/vectors data model from the bare parquet
  * tables, which each docs oracle entry extends with its final SELECT. */
object DocsOracleSql {
  private val text1: String = """WITH RECURSIVE
docs AS (
  SELECT doc_id, text, lang, source, n_chars,
         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
  FROM documents),
docs_words AS (
  SELECT *, string_split(norm, ' ') AS words FROM docs),
words_flat AS (
  SELECT doc_id, unnest(words) AS w FROM docs_words),
words_dist AS (SELECT DISTINCT doc_id, w FROM words_flat),
docs_sh AS (
  SELECT doc_id, unnest(CASE WHEN len(words) >= 3
      THEN [words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]
            for i in range(0, len(words)-2)]
      ELSE [norm] END) AS shingle
  FROM docs_words),
docs_sh_d AS (SELECT DISTINCT doc_id, shingle FROM docs_sh),
sh_sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM docs_sh_d GROUP BY 1),
dedup_exact AS (
  SELECT md5(norm) AS fp, min(doc_id) AS keeper_doc_id,
         CAST(count(*) AS BIGINT) AS n_dups
  FROM docs GROUP BY 1),
minhash AS (
  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS sig
  FROM docs_sh_d, range(0, 8) t(seed)
  GROUP BY 1, 2),
minhash_bands AS (
  SELECT doc_id, CAST(seed // 2 AS BIGINT) AS band,
         md5(string_agg(sig, '|' ORDER BY seed)) AS band_hash
  FROM minhash GROUP BY 1, 2),
minhash_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM minhash_bands a JOIN minhash_bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
mh_bstats AS (
  SELECT band, band_hash, CAST(count(*) AS BIGINT) AS bsz, min(doc_id) AS bmin
  FROM minhash_bands GROUP BY 1, 2),
minhash_pairs_guarded AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM minhash_bands a
    JOIN minhash_bands b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    JOIN mh_bstats s ON s.band = a.band AND s.band_hash = a.band_hash
    WHERE s.bsz <= 256
    UNION ALL
    SELECT s.bmin AS doc_a, a.doc_id AS doc_b
    FROM minhash_bands a
    JOIN mh_bstats s ON s.band = a.band AND s.band_hash = a.band_hash
    WHERE s.bsz > 256 AND a.doc_id <> s.bmin) u),
sim_bits AS (
  SELECT doc_id, bit,
         sum(CASE WHEN ((strpos('0123456789abcdef',
                    substr(md5(w), 1 + CAST(bit // 4 AS INTEGER), 1)) - 1)
                   >> (bit % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM words_dist, range(0, 32) t(bit) GROUP BY 1, 2),
simhash AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << CAST(bit AS INTEGER)
                  ELSE 0 END) AS BIGINT) AS simhash
  FROM sim_bits GROUP BY 1),
sh_bands AS (
  SELECT doc_id, simhash, band, (simhash >> CAST(band * 8 AS INTEGER)) & 255 AS chunk
  FROM simhash, range(0, 4) t(band)),
simhash_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
  FROM sh_bands a JOIN sh_bands b
    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
sim_bits64 AS (
  SELECT doc_id, bit,
         sum(CASE WHEN ((strpos('0123456789abcdef',
                    substr(md5(w), 1 + CAST(bit // 4 AS INTEGER), 1)) - 1)
                   >> (bit % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM words_dist, range(0, 64) t(bit) GROUP BY 1, 2),
simhash64 AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s <= 0 THEN CAST(0 AS BIGINT)
                  WHEN bit = 63 THEN CAST(-9223372036854775807 AS BIGINT) - CAST(1 AS BIGINT)
                  ELSE CAST(1 AS BIGINT) << CAST(bit AS INTEGER) END) AS BIGINT) AS simhash64
  FROM sim_bits64 GROUP BY 1),
sh64_bands AS (
  SELECT doc_id, simhash64, band,
         (simhash64 >> CAST(band * 16 AS INTEGER)) & 65535 AS chunk
  FROM simhash64, range(0, 4) t(band)),
simhash64_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.simhash64, b.simhash64)) AS BIGINT) AS hamming
  FROM sh64_bands a JOIN sh64_bands b
    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash64, b.simhash64)) <= 3),
jacc_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.norm AS norm_a, b.norm AS norm_b
  FROM docs a JOIN docs b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id % 2 = 0),
jacc_inter AS (
  SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS i
  FROM jacc_pairs p
  JOIN docs_sh_d a ON a.doc_id = p.doc_a
  JOIN docs_sh_d b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2),
ngram_jaccard AS (
  SELECT p.doc_a, p.doc_b, COALESCE(i.i, 0) AS n_common,
         sa.n_sh + sb.n_sh - COALESCE(i.i, 0) AS n_union,
         CAST(COALESCE(i.i, 0) AS DOUBLE)
           / CAST(sa.n_sh + sb.n_sh - COALESCE(i.i, 0) AS DOUBLE) AS jaccard
  FROM jacc_pairs p
  LEFT JOIN jacc_inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
  JOIN sh_sizes sa ON sa.doc_id = p.doc_a
  JOIN sh_sizes sb ON sb.doc_id = p.doc_b),
stop_stats AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN w IN ('the','a','of','and','to','in','is','it',
                                  'for','on') THEN 1 ELSE 0 END) AS BIGINT) AS stop_cnt
  FROM words_flat GROUP BY 1),
text_stats AS (
  SELECT d.doc_id,
         CAST(length(d.norm) AS BIGINT) AS n_chars_norm,
         CAST(len(w.words) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(d.norm, '[a-z0-9]+')) AS BIGINT) AS n_word_tokens,
         CAST(length(d.norm)
              - length(regexp_replace(d.norm, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct_cnt,
         s.stop_cnt
  FROM docs d JOIN docs_words w ON w.doc_id = d.doc_id
  JOIN stop_stats s ON s.doc_id = d.doc_id),
quality_score AS (
  SELECT doc_id,
         least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
         + (1.0 - least(CAST(punct_cnt AS DOUBLE) / CAST(n_chars_norm AS DOUBLE) * 5.0, 1.0)) * 0.3
         + least(CAST(stop_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 4.0, 1.0) * 0.2
           AS quality
  FROM text_stats),
lang_scores AS (
  SELECT doc_id,
    CAST(sum(CASE WHEN w IN ('the','a','of','and','to','is') THEN 1 ELSE 0 END) AS BIGINT) AS s_en,
    CAST(sum(CASE WHEN w IN ('der','die','das','und','ist','nicht') THEN 1 ELSE 0 END) AS BIGINT) AS s_de,
    CAST(sum(CASE WHEN w IN ('le','la','les','et','est','dans') THEN 1 ELSE 0 END) AS BIGINT) AS s_fr,
    CAST(sum(CASE WHEN w IN ('el','los','las','y','es','en') THEN 1 ELSE 0 END) AS BIGINT) AS s_es
  FROM words_flat GROUP BY 1),
lang_id AS (
  SELECT l.doc_id, s_en, s_de, s_fr, s_es,
         CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
              WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
              WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang,
         d.lang,
         (CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
               WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
               WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END) = d.lang AS correct
  FROM lang_scores l JOIN docs d ON d.doc_id = l.doc_id),
lang_id_ngram AS (
  SELECT doc_id, t_en, t_de, t_fr, t_es,
         CASE WHEN t_en >= t_de AND t_en >= t_fr AND t_en >= t_es THEN 'en'
              WHEN t_de >= t_fr AND t_de >= t_es THEN 'de'
              WHEN t_fr >= t_es THEN 'fr' ELSE 'es' END AS pred_lang,
         lang,
         (CASE WHEN t_en >= t_de AND t_en >= t_fr AND t_en >= t_es THEN 'en'
               WHEN t_de >= t_fr AND t_de >= t_es THEN 'de'
               WHEN t_fr >= t_es THEN 'fr' ELSE 'es' END) = lang AS correct
  FROM (SELECT doc_id, lang,
          CAST(len(regexp_extract_all(norm, '(the|and|ing|ion)')) AS BIGINT) AS t_en,
          CAST(len(regexp_extract_all(norm, '(der|sch|ein|ich)')) AS BIGINT) AS t_de,
          CAST(len(regexp_extract_all(norm, '(les|ent|des|une)')) AS BIGINT) AS t_fr,
          CAST(len(regexp_extract_all(norm, '(los|ado|una|ción)')) AS BIGINT) AS t_es
        FROM docs) tn),
word_freq AS (
  SELECT w, n, CAST(row_number() OVER (ORDER BY n DESC, w) AS BIGINT) AS rank
  FROM (SELECT w, CAST(count(*) AS BIGINT) AS n FROM words_flat GROUP BY 1) f
  QUALIFY rank <= 100),
doc_fingerprint AS (
  SELECT d.doc_id, md5(d.norm) AS md5_norm, min(md5(s.shingle)) AS min_shingle_hash
  FROM docs d JOIN docs_sh_d s ON s.doc_id = d.doc_id
  GROUP BY 1, 2),
mm_meta AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
         CAST(64 + octet_length(encode(text)) % 577 AS BIGINT) AS width,
         CAST(64 + (octet_length(encode(text)) * 31) % 433 AS BIGINT) AS height,
         CAST(1 + octet_length(encode(text)) // 256 AS BIGINT) AS n_frames
  FROM documents),
mm_frames AS (
  SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
         md5(md5(doc_text) || '#' || CAST(f AS VARCHAR)) AS frame_fp
  FROM (SELECT m.doc_id, d.text AS doc_text,
               unnest(range(0, m.n_frames)) AS f
        FROM mm_meta m JOIN documents d ON d.doc_id = m.doc_id) e),
emb_n AS (
  SELECT vec_id, label, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM (SELECT vec_id, label,
               list_transform(embedding,
                 v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        FROM embeddings)),
emb_nn AS (
  SELECT a.vec_id, b.vec_id AS nn_vec_id, a.label, b.label AS nn_label,
         CAST(list_sum(list_transform(list_zip(a.qv, b.qv), x -> x[1] * x[2])) AS BIGINT) AS dot,
         a.n2 AS na2, b.n2 AS nb2
  FROM emb_n a JOIN emb_n b ON a.label = b.label AND b.vec_id != a.vec_id),
dedup_embedding AS (
  SELECT vec_id, nn_vec_id, label, score, score >= 0.90 AS is_dup
  FROM (SELECT vec_id, nn_vec_id, label,
               CAST(dot AS DOUBLE) / sqrt(CAST(na2 AS DOUBLE) * CAST(nb2 AS DOUBLE)) AS score,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(na2 AS DOUBLE) * CAST(nb2 AS DOUBLE)) DESC,
                          nn_vec_id) AS rn
        FROM emb_nn) WHERE rn = 1),
ann_scores AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         CAST(list_sum(list_transform(list_zip(q.qv, c.qv), x -> x[1] * x[2])) AS BIGINT) AS dot,
         q.n2 AS qa2, c.n2 AS ca2
  FROM emb_n q JOIN emb_n c ON c.vec_id != q.vec_id
  WHERE q.vec_id % 50 = 0),
ann_cosine_topk AS (
  SELECT query_id, cand_id, score, CAST(rnk AS BIGINT) AS rnk FROM (
    SELECT query_id, cand_id,
           CAST(dot AS DOUBLE) / sqrt(CAST(qa2 AS DOUBLE) * CAST(ca2 AS DOUBLE)) AS score,
           row_number() OVER (PARTITION BY query_id
             ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qa2 AS DOUBLE) * CAST(ca2 AS DOUBLE)) DESC,
                      cand_id) AS rnk
    FROM ann_scores) s WHERE rnk <= 5),
ivf_cells AS (
    SELECT v.vec_id, c.vec_id AS centroid_id,
           CAST(list_sum(list_transform(list_zip(v.qv, c.qv), x -> x[1] * x[2])) AS BIGINT) AS cdot,
           v.n2 AS vn2, c.n2 AS cn2,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY CAST(list_sum(list_transform(list_zip(v.qv, c.qv), x -> x[1] * x[2])) AS DOUBLE)
                      / sqrt(CAST(v.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE)) DESC,
                      c.vec_id) AS rn
    FROM emb_n v JOIN emb_n c ON c.vec_id % 40 = 0),
ivf_assign AS (
  SELECT vec_id, centroid_id, CAST(cdot AS DOUBLE) / sqrt(CAST(vn2 AS DOUBLE) * CAST(cn2 AS DOUBLE)) AS score
  FROM ivf_cells
  WHERE rn = 1),
ivf_topk_probe2 AS (
  SELECT query_id, cand_id, score, CAST(rnk AS BIGINT) AS rnk FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           CAST(list_sum(list_transform(list_zip(qe.qv, ce.qv), x -> x[1] * x[2])) AS DOUBLE)
             / sqrt(CAST(qe.n2 AS DOUBLE) * CAST(ce.n2 AS DOUBLE)) AS score,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY CAST(list_sum(list_transform(list_zip(qe.qv, ce.qv), x -> x[1] * x[2])) AS DOUBLE)
                      / sqrt(CAST(qe.n2 AS DOUBLE) * CAST(ce.n2 AS DOUBLE)) DESC,
                      c.vec_id) AS rnk
    FROM (SELECT vec_id, centroid_id FROM ivf_cells WHERE rn <= 2) q
    JOIN (SELECT vec_id, centroid_id FROM ivf_cells WHERE rn = 1) c
      ON c.centroid_id = q.centroid_id AND c.vec_id != q.vec_id
    JOIN emb_n qe ON qe.vec_id = q.vec_id
    JOIN emb_n ce ON ce.vec_id = c.vec_id
    WHERE q.vec_id % 50 = 0) s WHERE rnk <= 3),
rh_planes AS (
  SELECT b, d,
         CAST(strpos('0123456789abcdef',
                substr(md5(CAST(b AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 1))
              - 9 AS BIGINT) AS c
  FROM range(0, 8) tb(b), range(0, 64) td(d)),
rh_sig AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN s > 0
                  THEN CAST(1 AS BIGINT) << CAST(7 - b AS INTEGER)
                  ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
  FROM (SELECT ev.vec_id, p.b, sum(ev.v_el * p.c) AS s
        FROM (SELECT vec_id, unnest(qv) AS v_el,
                     unnest(range(0, len(qv))) AS d FROM emb_n) ev
        JOIN rh_planes p ON p.d = ev.d
        GROUP BY 1, 2) z
  GROUP BY 1),
dedup_embedding_lsh AS (
  SELECT vec_id, nn_vec_id, score, score >= 0.90 AS is_dup FROM (
    SELECT q.vec_id, c.vec_id AS nn_vec_id,
           CAST(list_sum(list_transform(list_zip(qe.qv, ce.qv), x -> x[1] * x[2])) AS DOUBLE)
             / sqrt(CAST(qe.n2 AS DOUBLE) * CAST(ce.n2 AS DOUBLE)) AS score,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY CAST(list_sum(list_transform(list_zip(qe.qv, ce.qv), x -> x[1] * x[2])) AS DOUBLE)
                      / sqrt(CAST(qe.n2 AS DOUBLE) * CAST(ce.n2 AS DOUBLE)) DESC,
                      c.vec_id) AS rn
    FROM rh_sig q
    JOIN rh_sig c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
    JOIN emb_n qe ON qe.vec_id = q.vec_id
    JOIN emb_n ce ON ce.vec_id = c.vec_id) s WHERE rn = 1),
dedup_embedding_ivf AS (
  SELECT vec_id, nn_vec_id, score, score >= 0.90 AS is_dup FROM (
    SELECT q.vec_id, c.vec_id AS nn_vec_id,
           CAST(list_sum(list_transform(list_zip(qe.qv, ce.qv), x -> x[1] * x[2])) AS DOUBLE)
             / sqrt(CAST(qe.n2 AS DOUBLE) * CAST(ce.n2 AS DOUBLE)) AS score,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY CAST(list_sum(list_transform(list_zip(qe.qv, ce.qv), x -> x[1] * x[2])) AS DOUBLE)
                      / sqrt(CAST(qe.n2 AS DOUBLE) * CAST(ce.n2 AS DOUBLE)) DESC,
                      c.vec_id) AS rn
    FROM ivf_assign q
    JOIN ivf_assign c ON c.centroid_id = q.centroid_id AND c.vec_id != q.vec_id
    JOIN emb_n qe ON qe.vec_id = q.vec_id
    JOIN emb_n ce ON ce.vec_id = c.vec_id) s WHERE rn = 1),
ivf_topk AS (
  SELECT query_id, cand_id, score, CAST(rnk AS BIGINT) AS rnk FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           CAST(list_sum(list_transform(list_zip(qe.qv, ce.qv), x -> x[1] * x[2])) AS DOUBLE)
             / sqrt(CAST(qe.n2 AS DOUBLE) * CAST(ce.n2 AS DOUBLE)) AS score,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY CAST(list_sum(list_transform(list_zip(qe.qv, ce.qv), x -> x[1] * x[2])) AS DOUBLE)
                      / sqrt(CAST(qe.n2 AS DOUBLE) * CAST(ce.n2 AS DOUBLE)) DESC,
                      c.vec_id) AS rnk
    FROM ivf_assign q
    JOIN ivf_assign c ON c.centroid_id = q.centroid_id AND c.vec_id != q.vec_id
    JOIN emb_n qe ON qe.vec_id = q.vec_id
    JOIN emb_n ce ON ce.vec_id = c.vec_id
    WHERE q.vec_id % 50 = 0) s WHERE rnk <= 3),
km_c0 AS (
  SELECT vec_id AS cell, qv AS cqv, n2 AS cn2 FROM emb_n WHERE vec_id % 40 = 0),
km_a1 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             CAST(list_sum(list_transform(list_zip(e.qv, c.cqv), x -> x[1] * x[2])) AS DOUBLE)
             / sqrt(CAST(e.n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) DESC, c.cell) AS rn
    FROM emb_n e, km_c0 c) t WHERE rn = 1),
km_s1 AS (
  SELECT cell, dim, sum(val) AS s, count(*) AS n FROM (
    SELECT a.cell, unnest(e.qv) AS val, unnest(range(0, len(e.qv))) AS dim
    FROM km_a1 a JOIN emb_n e ON e.vec_id = a.vec_id) z
  GROUP BY 1, 2),
km_c1 AS (
  SELECT cell, cqv, CAST(list_sum(list_transform(cqv, x -> x * x)) AS BIGINT) AS cn2 FROM (
    SELECT cell, array_agg(CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) ORDER BY dim) AS cqv
    FROM km_s1 GROUP BY 1) g),
km_a2 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             CAST(list_sum(list_transform(list_zip(e.qv, c.cqv), x -> x[1] * x[2])) AS DOUBLE)
             / sqrt(CAST(e.n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) DESC, c.cell) AS rn
    FROM emb_n e, km_c1 c) t WHERE rn = 1),
km_s2 AS (
  SELECT cell, dim, sum(val) AS s, count(*) AS n FROM (
    SELECT a.cell, unnest(e.qv) AS val, unnest(range(0, len(e.qv))) AS dim
    FROM km_a2 a JOIN emb_n e ON e.vec_id = a.vec_id) z
  GROUP BY 1, 2),
km_c2 AS (
  SELECT cell, cqv, CAST(list_sum(list_transform(cqv, x -> x * x)) AS BIGINT) AS cn2 FROM (
    SELECT cell, array_agg(CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) ORDER BY dim) AS cqv
    FROM km_s2 GROUP BY 1) g),
ann_kmeans_assign AS (
  SELECT vec_id, cell, score FROM (
    SELECT e.vec_id, c.cell,
           CAST(list_sum(list_transform(list_zip(e.qv, c.cqv), x -> x[1] * x[2])) AS DOUBLE)
             / sqrt(CAST(e.n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) AS score,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             CAST(list_sum(list_transform(list_zip(e.qv, c.cqv), x -> x[1] * x[2])) AS DOUBLE)
             / sqrt(CAST(e.n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) DESC, c.cell) AS rn
    FROM emb_n e, km_c2 c) t WHERE rn = 1),
kms_samp AS (
  SELECT vec_id, qv, n2 FROM emb_n
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4096),
kms_c0 AS (
  SELECT vec_id AS cell, qv AS cqv, n2 AS cn2 FROM kms_samp WHERE vec_id % 40 = 0),
kms_a1 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             CAST(list_sum(list_transform(list_zip(e.qv, c.cqv), x -> x[1] * x[2])) AS DOUBLE)
             / sqrt(CAST(e.n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) DESC, c.cell) AS rn
    FROM kms_samp e, kms_c0 c) t WHERE rn = 1),
kms_s1 AS (
  SELECT cell, dim, sum(val) AS s, count(*) AS n FROM (
    SELECT a.cell, unnest(e.qv) AS val, unnest(range(0, len(e.qv))) AS dim
    FROM kms_a1 a JOIN kms_samp e ON e.vec_id = a.vec_id) z
  GROUP BY 1, 2),
kms_c1 AS (
  SELECT cell, cqv, CAST(list_sum(list_transform(cqv, x -> x * x)) AS BIGINT) AS cn2 FROM (
    SELECT cell, array_agg(CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) ORDER BY dim) AS cqv
    FROM kms_s1 GROUP BY 1) g),
kms_a2 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             CAST(list_sum(list_transform(list_zip(e.qv, c.cqv), x -> x[1] * x[2])) AS DOUBLE)
             / sqrt(CAST(e.n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) DESC, c.cell) AS rn
    FROM kms_samp e, kms_c1 c) t WHERE rn = 1),
kms_s2 AS (
  SELECT cell, dim, sum(val) AS s, count(*) AS n FROM (
    SELECT a.cell, unnest(e.qv) AS val, unnest(range(0, len(e.qv))) AS dim
    FROM kms_a2 a JOIN kms_samp e ON e.vec_id = a.vec_id) z
  GROUP BY 1, 2),
kms_c2 AS (
  SELECT cell, cqv, CAST(list_sum(list_transform(cqv, x -> x * x)) AS BIGINT) AS cn2 FROM (
    SELECT cell, array_agg(CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) ORDER BY dim) AS cqv
    FROM kms_s2 GROUP BY 1) g),
ann_kmeans_assign_sampled AS (
  SELECT vec_id, cell, score FROM (
    SELECT e.vec_id, c.cell,
           CAST(list_sum(list_transform(list_zip(e.qv, c.cqv), x -> x[1] * x[2])) AS DOUBLE)
             / sqrt(CAST(e.n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) AS score,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             CAST(list_sum(list_transform(list_zip(e.qv, c.cqv), x -> x[1] * x[2])) AS DOUBLE)
             / sqrt(CAST(e.n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) DESC, c.cell) AS rn
    FROM emb_n e, kms_c2 c) t WHERE rn = 1),
kmeans_sample_drift AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(CASE WHEN f.cell = s.cell THEN 1 ELSE 0 END) AS BIGINT)
           AS n_same,
         CAST(CAST(sum(CASE WHEN f.cell = s.cell THEN 1 ELSE 0 END)
                   AS BIGINT) * 1000000 // count(*) AS BIGINT) AS same_ppm
  FROM ann_kmeans_assign f
  JOIN ann_kmeans_assign_sampled s USING (vec_id)),
sym_edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM minhash_pairs
  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM minhash_pairs),
reach AS (
  SELECT doc_id AS node, doc_id AS label FROM docs
  UNION
  SELECT e.dst AS node, r.label FROM reach r JOIN sym_edges e ON e.src = r.node),
dedup_clusters AS (
  SELECT node AS doc_id, min(label) AS cluster FROM reach GROUP BY node),
sample_stratified AS (
  SELECT doc_id, lang FROM docs
  WHERE md5(CAST(doc_id AS VARCHAR)) <
        CASE WHEN lang = 'en' THEN '4' ELSE 'c' END),
split_tvt AS (
  SELECT doc_id, lang,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
              ELSE 'test' END AS split
  FROM docs),
corpus_curated AS (
  SELECT c.doc_id, d.lang, q.quality, e.n_dups, s.split
  FROM dedup_clusters c
  JOIN docs d ON d.doc_id = c.doc_id
  JOIN quality_score q ON q.doc_id = c.doc_id
  JOIN dedup_exact e ON e.keeper_doc_id = c.doc_id
  JOIN split_tvt s ON s.doc_id = c.doc_id
  WHERE c.doc_id = c.cluster AND q.quality >= 0.5),
inc_cut AS (
  SELECT CAST(max(doc_id) * 9 // 10 AS BIGINT) AS cutoff FROM docs),
dedup_pairs_inc AS (
  SELECT doc_a, doc_b FROM minhash_pairs, inc_cut WHERE doc_b > cutoff),
words_tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM words_flat GROUP BY 1, 2),
words_df AS (
  SELECT w, CAST(count(*) AS BIGINT) AS df FROM words_dist GROUP BY 1),
n_docs_t AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM docs),
tfidf_top AS (
  SELECT doc_id, w, tf, df, score, rank FROM (
    SELECT t.doc_id, t.w, t.tf, d.df,
           t.tf * CAST(length(bin(n.n_docs // d.df)) - 1 AS BIGINT) AS score,
           CAST(row_number() OVER (PARTITION BY t.doc_id
                  ORDER BY t.tf * CAST(length(bin(n.n_docs // d.df)) - 1 AS BIGINT) DESC,
                           t.w) AS BIGINT) AS rank
    FROM words_tf t JOIN words_df d ON d.w = t.w, n_docs_t n) s
  WHERE rank <= 3),
bm25_corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(words)) AS BIGINT) AS tot_tokens
  FROM docs_words),
bm25_scored AS (
  SELECT t.doc_id,
         CAST(sum(((1000 * s.n_docs) // d.df) * (t.tf * 220) //
                  (100 * t.tf + (120 * (2500 + 75 *
                     ((l.dl * 100) // (s.tot_tokens // s.n_docs)))) // 100))
              AS BIGINT) AS score,
         CAST(count(*) AS BIGINT) AS n_terms_hit
  FROM (SELECT doc_id, w, tf FROM words_tf
        WHERE w IN ('spark', 'hash', 'join')) t
  JOIN words_df d ON d.w = t.w
  JOIN (SELECT doc_id, CAST(len(words) AS BIGINT) AS dl FROM docs_words) l
    ON l.doc_id = t.doc_id, bm25_corpus s
  GROUP BY 1),
bm25_top AS (
  SELECT doc_id, score, n_terms_hit,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
  FROM bm25_scored
  QUALIFY rank <= 10),
contam_needles AS (
  SELECT DISTINCT shingle FROM docs_sh_d WHERE doc_id < 5),
contamination AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM docs_sh_d s JOIN contam_needles n ON n.shingle = s.shingle
  GROUP BY 1),
pii_scan AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(norm,
              '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+')) AS BIGINT) AS n_email,
         CAST(len(regexp_extract_all(norm,
              '[0-9][0-9][0-9][- ][0-9][0-9][0-9][- ][0-9][0-9][0-9][0-9]')) AS BIGINT) AS n_phone,
         (len(regexp_extract_all(norm, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+'))
          + len(regexp_extract_all(norm, '[0-9][0-9][0-9][- ][0-9][0-9][0-9][- ][0-9][0-9][0-9][0-9]'))) > 0 AS has_pii
  FROM docs),
repetition AS (
  SELECT w.doc_id,
         CAST(greatest(len(w.words) - 2, 1) AS BIGINT) AS n_total,
         s.n_sh AS n_distinct,
         1.0 - CAST(s.n_sh AS DOUBLE)
             / CAST(greatest(len(w.words) - 2, 1) AS DOUBLE) AS rep_ratio
  FROM docs_words w JOIN sh_sizes s ON s.doc_id = w.doc_id),
bigrams AS (
  SELECT bigram FROM docs_words w,
       unnest(CASE WHEN len(words) >= 2
         THEN [words[i+1] || ' ' || words[i+2] for i in range(0, len(words)-1)]
         ELSE CAST([] AS VARCHAR[]) END) b(bigram)),
bigram_freq AS (
  SELECT bigram, n,
         CAST(row_number() OVER (ORDER BY n DESC, bigram) AS BIGINT) AS rank
  FROM (SELECT bigram, CAST(count(*) AS BIGINT) AS n
        FROM bigrams GROUP BY 1) f
  QUALIFY rank <= 50),
corpus_curated_v2 AS (
  SELECT c.doc_id, c.lang, c.quality, r.rep_ratio, c.n_dups, c.split
  FROM corpus_curated c
  JOIN pii_scan p ON p.doc_id = c.doc_id AND NOT p.has_pii
  JOIN repetition r ON r.doc_id = c.doc_id AND r.rep_ratio <= 0.5
  WHERE c.doc_id NOT IN (SELECT doc_id FROM contamination)),
passages AS (
  SELECT doc_id, unnest(CASE WHEN len(words) >= 8
      THEN [array_to_string(words[i*8+1 : i*8+8], ' ')
            for i in range(0, len(words)//8)]
      ELSE CAST([] AS VARCHAR[]) END) AS passage
  FROM docs_words),
pass_h AS (SELECT doc_id, md5(passage) AS passage_hash FROM passages),
pass_stats AS (
  SELECT passage_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_occ, min(doc_id) AS keeper_doc_id
  FROM pass_h GROUP BY 1),
dedup_passages AS (
  SELECT passage_hash, n_docs, n_occ, keeper_doc_id
  FROM pass_stats WHERE n_docs >= 2),
span_sh AS (
  SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.sh FROM (
    SELECT doc_id,
           unnest([{'pos': i,
                    'sh': md5(words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])}
                   for i in range(0, len(words)-2)]) AS u
    FROM docs_words WHERE len(words) >= 3) t),
span_rare AS (
  SELECT doc_id, pos, sh FROM span_sh
  WHERE sh IN (SELECT sh FROM span_sh GROUP BY 1 HAVING count(*) <= 64)),
span_matches AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, b.pos AS pos_b,
         a.pos - b.pos AS diag
  FROM span_rare a JOIN span_rare b
    ON a.sh = b.sh AND a.doc_id < b.doc_id),
span_runs AS (
  SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS run_len
  FROM (SELECT doc_a, doc_b, diag,
               pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                          ORDER BY pos_a) AS isl
        FROM span_matches) m
  GROUP BY doc_a, doc_b, diag, isl
  HAVING count(*) >= 8),
dedup_substring_spans AS (
  SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(max(run_len + 2) AS BIGINT) AS max_span_words,
         CAST(sum(run_len + 2) AS BIGINT) AS sum_span_words
  FROM span_runs GROUP BY 1, 2),
substring_span_hist AS (
  SELECT CAST(length(bin(w)) - 1 AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(count(DISTINCT pair) AS BIGINT) AS n_pairs,
         CAST(max(w) AS BIGINT) AS max_words
  FROM (SELECT run_len + 2 AS w,
               CAST(doc_a AS VARCHAR) || '_' || CAST(doc_b AS VARCHAR) AS pair
        FROM span_runs) s
  GROUP BY 1),
span_source_matrix AS (
  SELECT da.source AS source_a, db.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(count(DISTINCT CAST(r.doc_a AS VARCHAR) || '_'
                             || CAST(r.doc_b AS VARCHAR)) AS BIGINT)
           AS n_pairs,
         CAST(sum(r.run_len + 2) AS BIGINT) AS span_words
  FROM span_runs r
  JOIN docs da ON da.doc_id = r.doc_a
  JOIN docs db ON db.doc_id = r.doc_b
  GROUP BY 1, 2),
quote_heavy_docs AS (
  SELECT p.doc_id, p.n_spans, p.dup_words, t.n_tokens,
         CAST(p.dup_words * 1000000 // t.n_tokens AS BIGINT) AS dup_ppm
  FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(w) AS BIGINT) AS dup_words
        FROM (SELECT doc_a AS doc_id, run_len + 2 AS w FROM span_runs
              UNION ALL
              SELECT doc_b AS doc_id, run_len + 2 AS w FROM span_runs) u
        GROUP BY 1) p
  JOIN text_stats t USING (doc_id)),
dedup_substring_inc AS (
  SELECT s.doc_a, s.doc_b, s.n_spans, s.max_span_words, s.sum_span_words
  FROM dedup_substring_spans s, inc_cut WHERE s.doc_b > cutoff),
substring_index_stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN occ > 64 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_overcap,
         CAST(sum(occ) AS BIGINT) AS pos_total,
         CAST(sum(CASE WHEN occ <= 64 THEN occ ELSE 0 END) AS BIGINT)
           AS pos_kept,
         CAST(max(occ) AS BIGINT) AS max_occ
  FROM (SELECT sh, count(*) AS occ FROM span_sh GROUP BY 1) c),
corpus_curated_v3 AS (
  SELECT c.doc_id, c.lang, c.quality, c.rep_ratio, c.n_dups, c.split
  FROM corpus_curated_v2 c
  WHERE c.doc_id NOT IN
    (SELECT doc_id FROM quote_heavy_docs WHERE dup_ppm > 250000)),
span_runs_pos AS (
  SELECT doc_a, doc_b, diag, CAST(min(pos_a) AS BIGINT) AS start_a,
         CAST(count(*) AS BIGINT) AS run_len
  FROM (SELECT doc_a, doc_b, diag, pos_a,
               pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                          ORDER BY pos_a) AS isl
        FROM span_matches) m
  GROUP BY doc_a, doc_b, diag, isl
  HAVING count(*) >= 8),
span_mask_ranges AS (
  SELECT doc_id, CAST(min(s) AS BIGINT) AS start_w,
         CAST(max(e) AS BIGINT) AS end_w,
         CAST(max(e) - min(s) + 1 AS BIGINT) AS masked_words
  FROM (
    SELECT doc_id, s, e,
           CAST(sum(CASE WHEN prev_max IS NULL OR s > prev_max
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY s, e
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS grp
    FROM (
      SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
      FROM (
        SELECT DISTINCT doc_id, s, e FROM (
          SELECT doc_a AS doc_id, start_a AS s,
                 start_a + run_len + 1 AS e
          FROM span_runs_pos
          UNION ALL
          SELECT doc_b, start_a - diag, start_a - diag + run_len + 1
          FROM span_runs_pos) u0) u) x) y
  GROUP BY doc_id, grp),
mh_pairs_batched AS (
  SELECT CASE WHEN doc_a <= m.mx // 3 THEN 0
              WHEN doc_a <= (2 * m.mx) // 3 THEN 1 ELSE 2 END AS ba,
         CASE WHEN doc_b <= m.mx // 3 THEN 0
              WHEN doc_b <= (2 * m.mx) // 3 THEN 1 ELSE 2 END AS bb,
         doc_a, doc_b
  FROM minhash_pairs_guarded, (SELECT max(doc_id) AS mx FROM docs) m),
docs_batched AS (
  SELECT CASE WHEN doc_id <= m.mx // 3 THEN 0
              WHEN doc_id <= (2 * m.mx) // 3 THEN 1 ELSE 2 END AS batch
  FROM docs, (SELECT max(doc_id) AS mx FROM docs) m),
dup_rate_by_batch AS (
  SELECT CAST(b.batch AS BIGINT) AS batch,
         CAST(b.n_docs AS BIGINT) AS n_docs,
         CAST(coalesce(pr.n, 0) AS BIGINT) AS n_dup_prior,
         CAST(coalesce(ii.n, 0) AS BIGINT) AS n_dup_intra,
         CAST(coalesce(pr.n, 0) * 1000000 // b.n_docs AS BIGINT)
           AS dup_prior_ppm
  FROM (SELECT batch, count(*) AS n_docs FROM docs_batched GROUP BY 1) b
  LEFT JOIN (SELECT bb AS batch, count(DISTINCT doc_b) AS n
             FROM mh_pairs_batched WHERE ba < bb GROUP BY 1) pr
    USING (batch)
  LEFT JOIN (SELECT batch, count(DISTINCT d) AS n FROM (
               SELECT ba AS batch, doc_a AS d FROM mh_pairs_batched
               WHERE ba = bb
               UNION ALL
               SELECT bb, doc_b FROM mh_pairs_batched WHERE ba = bb) z
             GROUP BY 1) ii USING (batch)),
span_mask_ranges_inc AS (
  SELECT r.doc_id, r.start_w, r.end_w, r.masked_words
  FROM span_mask_ranges r, inc_cut WHERE r.doc_id > cutoff),
mask_savings_by_source AS (
  SELECT d.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(p.masked) AS BIGINT) AS n_quote_docs,
         CAST(sum(len(d.words)) AS BIGINT) AS total_words,
         CAST(coalesce(sum(p.masked), 0) AS BIGINT) AS masked_words,
         CAST(coalesce(sum(p.masked), 0) * 1000000
              // sum(len(d.words)) AS BIGINT) AS masked_ppm
  FROM docs_words d
  LEFT JOIN (SELECT doc_id, CAST(sum(masked_words) AS BIGINT) AS masked
             FROM span_mask_ranges GROUP BY 1) p USING (doc_id)
  GROUP BY 1),
substring_ingest_debt AS (
  SELECT CAST(batch AS BIGINT) AS batch,
         CAST(sum(occ_b) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN cum <= 64 THEN occ_b ELSE 0 END) AS BIGINT)
           AS n_appended,
         CAST(sum(CASE WHEN total <= 64 THEN occ_b ELSE 0 END) AS BIGINT)
           AS n_live,
         CAST(sum(CASE WHEN cum <= 64 THEN occ_b ELSE 0 END)
              - sum(CASE WHEN total <= 64 THEN occ_b ELSE 0 END) AS BIGINT)
           AS n_dead
  FROM (
    SELECT sh, batch, occ_b,
           sum(occ_b) OVER (PARTITION BY sh ORDER BY batch) AS cum,
           sum(occ_b) OVER (PARTITION BY sh) AS total
    FROM (
      SELECT s.sh,
             CASE WHEN s.doc_id <= m.mx // 3 THEN 0
                  WHEN s.doc_id <= (2 * m.mx) // 3 THEN 1
                  ELSE 2 END AS batch,
             count(*) AS occ_b
      FROM span_sh s, (SELECT max(doc_id) AS mx FROM docs) m
      GROUP BY 1, 2) b) c
  GROUP BY 1),
corpus_curated_v4 AS (
  SELECT c.doc_id, c.lang, c.quality, c.rep_ratio, c.n_dups, c.split,
         CAST(len(d.words) AS BIGINT) AS n_words,
         CAST(CASE WHEN q.doc_id IS NOT NULL
                   THEN coalesce(p.masked, 0) ELSE 0 END AS BIGINT)
           AS masked_words,
         CAST(len(d.words)
              - CASE WHEN q.doc_id IS NOT NULL
                     THEN coalesce(p.masked, 0) ELSE 0 END AS BIGINT)
           AS kept_words
  FROM corpus_curated_v2 c
  JOIN docs_words d USING (doc_id)
  LEFT JOIN (SELECT doc_id FROM quote_heavy_docs
             WHERE dup_ppm > 250000) q USING (doc_id)
  LEFT JOIN (SELECT doc_id, CAST(sum(masked_words) AS BIGINT) AS masked
             FROM span_mask_ranges GROUP BY 1) p USING (doc_id)),
mask_vs_drop_yield AS (
  SELECT v4.source,
         CAST(coalesce(v3.v3_docs, 0) AS BIGINT) AS v3_docs,
         CAST(v4.v4_docs AS BIGINT) AS v4_docs,
         CAST(v4.v4_docs - coalesce(v3.v3_docs, 0) AS BIGINT)
           AS gained_docs,
         CAST(coalesce(v3.v3_words, 0) AS BIGINT) AS v3_words,
         CAST(v4.v4_words AS BIGINT) AS v4_words,
         CAST(v4.v4_words - coalesce(v3.v3_words, 0) AS BIGINT)
           AS gained_words,
         CAST(CASE WHEN coalesce(v3.v3_words, 0) > 0
              THEN (v4.v4_words - v3.v3_words) * 1000000 // v3.v3_words
              END AS BIGINT) AS gain_ppm
  FROM (SELECT d.source, count(*) AS v4_docs, sum(c.kept_words) AS v4_words
        FROM corpus_curated_v4 c JOIN docs_words d USING (doc_id)
        GROUP BY 1) v4
  LEFT JOIN (SELECT d.source, count(*) AS v3_docs,
                    sum(len(d.words)) AS v3_words
             FROM corpus_curated_v3 c JOIN docs_words d USING (doc_id)
             GROUP BY 1) v3 USING (source)),
corpus_curated_v4_inc AS (
  SELECT c.* FROM corpus_curated_v4 c, inc_cut WHERE c.doc_id > cutoff),
quote_heavy_docs_inc AS (
  SELECT q.* FROM quote_heavy_docs q, inc_cut WHERE q.doc_id > cutoff),
corpus_stats_v4 AS (
  SELECT c.lang, d.source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(c.n_words) AS BIGINT) AS total_words,
         CAST(sum(c.masked_words) AS BIGINT) AS masked_words,
         CAST(sum(c.kept_words) AS BIGINT) AS kept_words,
         CAST(sum(c.masked_words) * 1000000 // sum(c.n_words) AS BIGINT)
           AS masked_ppm,
         CAST(sum(CAST(round(c.quality * 1000000) AS BIGINT)) // count(*)
              AS BIGINT) AS mean_quality_ppm
  FROM corpus_curated_v4 c JOIN docs d USING (doc_id)
  GROUP BY 1, 2),
tier_overlap AS (
  SELECT CAST(sum(CASE WHEN has_m THEN 1 ELSE 0 END) AS BIGINT)
           AS n_minhash,
         CAST(sum(CASE WHEN has_s THEN 1 ELSE 0 END) AS BIGINT)
           AS n_substring,
         CAST(sum(CASE WHEN has_m AND has_s THEN 1 ELSE 0 END) AS BIGINT)
           AS n_both
  FROM (SELECT m.doc_a IS NOT NULL AS has_m, s.doc_a IS NOT NULL AS has_s
        FROM minhash_pairs_guarded m
        FULL OUTER JOIN dedup_substring_spans s
          ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b) t),
passage_dup_ratio AS (
  SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_passages,
         CAST(sum(CASE WHEN s.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         CAST(sum(CASE WHEN s.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS dup_ratio
  FROM pass_h p JOIN pass_stats s ON s.passage_hash = p.passage_hash
  GROUP BY 1),
pq_sub AS (
  SELECT vec_id, m, qv[m*16+1 : m*16+16] AS sub
  FROM emb_n, range(0, 4) t(m)),
pq_cb0 AS (SELECT m, vec_id AS cb_id, sub AS csub
          FROM pq_sub WHERE vec_id % 32 = 0 AND vec_id < 512),
pq_e1 AS (
  SELECT vec_id, m, cb_id FROM (
    SELECT s.vec_id, s.m, c.cb_id,
      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
        CAST(list_sum(list_transform(list_zip(s.sub, c.csub),
               x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT), c.cb_id) AS rn
    FROM pq_sub s JOIN pq_cb0 c ON c.m = s.m) z WHERE rn = 1),
pq_s1 AS (
  SELECT m, cb_id, dim, sum(val) AS s, count(*) AS n FROM (
    SELECT e.m, e.cb_id, unnest(s.sub) AS val,
           unnest(range(0, len(s.sub))) AS dim
    FROM pq_e1 e JOIN pq_sub s ON s.vec_id = e.vec_id AND s.m = e.m) z
  GROUP BY 1, 2, 3),
pq_cb1 AS (
  SELECT m, cb_id,
         array_agg(CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
                   ORDER BY dim) AS csub
  FROM pq_s1 GROUP BY 1, 2),
pq_e2 AS (
  SELECT vec_id, m, cb_id FROM (
    SELECT s.vec_id, s.m, c.cb_id,
      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
        CAST(list_sum(list_transform(list_zip(s.sub, c.csub),
               x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT), c.cb_id) AS rn
    FROM pq_sub s JOIN pq_cb1 c ON c.m = s.m) z WHERE rn = 1),
pq_s2 AS (
  SELECT m, cb_id, dim, sum(val) AS s, count(*) AS n FROM (
    SELECT e.m, e.cb_id, unnest(s.sub) AS val,
           unnest(range(0, len(s.sub))) AS dim
    FROM pq_e2 e JOIN pq_sub s ON s.vec_id = e.vec_id AND s.m = e.m) z
  GROUP BY 1, 2, 3),
pq_cb AS (
  SELECT m, cb_id,
         array_agg(CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
                   ORDER BY dim) AS csub
  FROM pq_s2 GROUP BY 1, 2),
pq_codes AS (
  SELECT vec_id, m, cb_id AS code, d2 FROM (
    SELECT s.vec_id, s.m, c.cb_id,
      CAST(list_sum(list_transform(list_zip(s.sub, c.csub),
             x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT) AS d2,
      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
        CAST(list_sum(list_transform(list_zip(s.sub, c.csub),
               x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT), c.cb_id) AS rn
    FROM pq_sub s JOIN pq_cb c ON c.m = s.m) z WHERE rn = 1),
pq_dtab AS (
  SELECT q.vec_id AS query_id, c.m, c.cb_id,
    CAST(list_sum(list_transform(list_zip(q.sub, c.csub),
           x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT) AS d2
  FROM pq_sub q JOIN pq_cb c ON c.m = q.m WHERE q.vec_id % 50 = 0),
pq_adc AS (
  SELECT d.query_id, p.vec_id AS cand_id, CAST(sum(d.d2) AS BIGINT) AS adc_d2
  FROM pq_codes p JOIN pq_dtab d ON d.m = p.m AND d.cb_id = p.code
  WHERE p.vec_id != d.query_id GROUP BY 1, 2),
pq_adc_topk AS (
  SELECT query_id, cand_id, adc_d2, CAST(rnk AS BIGINT) AS rnk FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY adc_d2, cand_id) AS rnk
    FROM pq_adc) z WHERE rnk <= 5),
ivfpq_ranked AS (
  SELECT a.query_id, a.cand_id, a.adc_d2,
         row_number() OVER (PARTITION BY a.query_id
           ORDER BY a.adc_d2, a.cand_id) AS rnk
  FROM pq_adc a
  JOIN (SELECT vec_id, centroid_id FROM ivf_cells WHERE rn <= 2) q
    ON q.vec_id = a.query_id
  JOIN ivf_assign c ON c.vec_id = a.cand_id
                   AND c.centroid_id = q.centroid_id),
ivfpq_topk AS (
  SELECT query_id, cand_id, adc_d2, CAST(rnk AS BIGINT) AS rnk
  FROM ivfpq_ranked WHERE rnk <= 3),
ivfpq_rerank AS (
  SELECT query_id, cand_id, score, CAST(rnk AS BIGINT) AS rnk FROM (
    SELECT s.query_id, s.cand_id,
           CAST(list_sum(list_transform(list_zip(qe.qv, ce.qv),
                  x -> x[1] * x[2])) AS DOUBLE)
             / sqrt(CAST(qe.n2 AS DOUBLE) * CAST(ce.n2 AS DOUBLE)) AS score,
           row_number() OVER (PARTITION BY s.query_id
             ORDER BY CAST(list_sum(list_transform(list_zip(qe.qv, ce.qv),
                             x -> x[1] * x[2])) AS DOUBLE)
                      / sqrt(CAST(qe.n2 AS DOUBLE) * CAST(ce.n2 AS DOUBLE))
                        DESC, s.cand_id) AS rnk
    FROM (SELECT query_id, cand_id FROM ivfpq_ranked WHERE rnk <= 10) s
    JOIN emb_n qe ON qe.vec_id = s.query_id
    JOIN emb_n ce ON ce.vec_id = s.cand_id) z
  WHERE rnk <= 3),
ver_inter AS (
  SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS i
  FROM minhash_pairs_guarded p
  JOIN docs_sh_d a ON a.doc_id = p.doc_a
  JOIN docs_sh_d b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2),
dedup_pairs_verified AS (
  SELECT p.doc_a, p.doc_b, COALESCE(i.i, 0) AS n_common,
         sa.n_sh + sb.n_sh - COALESCE(i.i, 0) AS n_union,
         CAST(COALESCE(i.i, 0) AS DOUBLE)
           / CAST(sa.n_sh + sb.n_sh - COALESCE(i.i, 0) AS DOUBLE) AS jaccard
  FROM minhash_pairs_guarded p
  LEFT JOIN ver_inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
  JOIN sh_sizes sa ON sa.doc_id = p.doc_a
  JOIN sh_sizes sb ON sb.doc_id = p.doc_b
  WHERE CAST(COALESCE(i.i, 0) AS DOUBLE)
        / CAST(sa.n_sh + sb.n_sh - COALESCE(i.i, 0) AS DOUBLE) >= 0.7),
ver_sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM dedup_pairs_verified
  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM dedup_pairs_verified),
reach_v AS (
  SELECT doc_id AS node, doc_id AS label FROM docs
  UNION
  SELECT e.dst AS node, r.label FROM reach_v r JOIN ver_sym e ON e.src = r.node),
dedup_clusters_verified AS (
  SELECT node AS doc_id, min(label) AS cluster FROM reach_v GROUP BY node),
corpus_stats AS (
  SELECT d.lang, d.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(t.n_tokens) AS BIGINT) AS total_tokens,
         CAST(sum(t.n_chars_norm) AS BIGINT) AS total_chars,
         CAST(sum(CAST(round(q.quality * 1000000) AS BIGINT)) AS DOUBLE)
           / CAST(count(*) * 1000000 AS DOUBLE) AS avg_quality,
         CAST(sum(CASE WHEN p.has_pii THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pii_docs,
         CAST(sum(CAST(round(r.rep_ratio * 1000000) AS BIGINT)) AS DOUBLE)
           / CAST(count(*) * 1000000 AS DOUBLE) AS avg_rep_ratio
  FROM docs d
  JOIN text_stats t ON t.doc_id = d.doc_id
  JOIN quality_score q ON q.doc_id = d.doc_id
  JOIN pii_scan p ON p.doc_id = d.doc_id
  JOIN repetition r ON r.doc_id = d.doc_id
  GROUP BY 1, 2),
"""

  // Split into two literals: a single string constant would exceed the
  // JVM classfile's 64 KB CONSTANT_Utf8 limit. `text` joins them at
  // runtime (val references are not constant-folded).
  private val text2: String = """ing_inc AS (
  SELECT vec_id,
         list_concat(qv[1:32], list_transform(qv[33:64], v -> -v)) AS qv, n2
  FROM emb_n WHERE vec_id % 10 = 7),
ing_idx AS (
  SELECT vec_id, qv, n2 FROM emb_n WHERE vec_id % 10 != 7
  UNION ALL SELECT vec_id, qv, n2 FROM ing_inc),
ing_v2 AS (
  SELECT vec_id,
         list_concat(qv[1:32], list_transform(qv[33:64], v -> -v)) AS qv, n2
  FROM emb_n),
ing_assign AS (
  SELECT vec_id, centroid_id, rn FROM (
    SELECT v.vec_id, c.vec_id AS centroid_id,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             CAST(list_sum(list_transform(list_zip(v.qv, c.qv), x -> x[1] * x[2])) AS DOUBLE)
             / sqrt(CAST(v.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE)) DESC,
             c.vec_id) AS rn
    FROM ing_idx v JOIN emb_n c ON c.vec_id % 40 = 0) t WHERE rn <= 2),
ing_served AS (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             CAST(list_sum(list_transform(list_zip(qe.qv, ce.qv), x -> x[1] * x[2])) AS DOUBLE)
             / sqrt(CAST(qe.n2 AS DOUBLE) * CAST(ce.n2 AS DOUBLE)) DESC,
             c.vec_id) AS rnk
    FROM ing_assign q
    JOIN (SELECT * FROM ing_assign WHERE rn = 1) c
      ON c.centroid_id = q.centroid_id AND c.vec_id != q.vec_id
    JOIN ing_idx qe ON qe.vec_id = q.vec_id
    JOIN ing_idx ce ON ce.vec_id = c.vec_id
    WHERE q.vec_id % 20 = 17) s WHERE rnk <= 3),
ing_truth AS (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             CAST(list_sum(list_transform(list_zip(q.qv, c.qv), x -> x[1] * x[2])) AS DOUBLE)
             / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE)) DESC,
             c.vec_id) AS rnk
    FROM ing_v2 q JOIN ing_v2 c ON c.vec_id != q.vec_id
    WHERE q.vec_id % 20 = 17) s WHERE rnk <= 3),
ivf_ingest_recall AS (
  SELECT q.query_id, CAST(count(h.cand_id) AS BIGINT) AS n_hits,
         CAST(count(h.cand_id) AS DOUBLE) / 3 AS recall
  FROM (SELECT DISTINCT query_id FROM ing_truth) q
  LEFT JOIN (SELECT e.query_id, e.cand_id FROM ing_truth e
             JOIN ing_served a ON a.query_id = e.query_id
                              AND a.cand_id = e.cand_id) h
    ON h.query_id = q.query_id
  GROUP BY 1),
domain_quota AS (
  SELECT doc_id, source, rk FROM (
    SELECT doc_id, source,
           CAST(row_number() OVER (PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
             AS rk
    FROM docs) t WHERE rk <= 15),
dedup_keep_best AS (
  SELECT cluster, doc_id, quality, n_members FROM (
    SELECT c.cluster, c.doc_id, q.quality,
           CAST(count(*) OVER (PARTITION BY c.cluster) AS BIGINT)
             AS n_members,
           row_number() OVER (PARTITION BY c.cluster
                              ORDER BY q.quality DESC, c.doc_id) AS rn
    FROM dedup_clusters c JOIN quality_score q ON q.doc_id = c.doc_id) t
  WHERE rn = 1),
doclen_hist AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         CAST(min(n_tokens) AS BIGINT) AS min_tokens,
         CAST(max(n_tokens) AS BIGINT) AS max_tokens
  FROM (SELECT CAST(length(bin(greatest(n_tokens, 1))) - 1 AS BIGINT)
                 AS bucket,
               n_tokens FROM text_stats) t
  GROUP BY 1),
cand_jacc AS (
  SELECT p.doc_a, p.doc_b,
         CAST(COALESCE(i.i, 0) AS DOUBLE)
           / CAST(sa.n_sh + sb.n_sh - COALESCE(i.i, 0) AS DOUBLE) AS jaccard
  FROM minhash_pairs_guarded p
  LEFT JOIN ver_inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
  JOIN sh_sizes sa ON sa.doc_id = p.doc_a
  JOIN sh_sizes sb ON sb.doc_id = p.doc_b),
mh_sig_match AS (
  SELECT p.doc_a, p.doc_b,
         CAST(sum(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) AS BIGINT)
           AS n_sig_match
  FROM minhash_pairs_guarded p
  JOIN minhash a ON a.doc_id = p.doc_a
  JOIN minhash b ON b.doc_id = p.doc_b AND b.seed = a.seed
  GROUP BY 1, 2),
minhash_est_err AS (
  SELECT c.doc_a, c.doc_b, m.n_sig_match,
         CAST(m.n_sig_match AS DOUBLE) / 8 AS est_jaccard,
         c.jaccard,
         CAST(m.n_sig_match AS DOUBLE) / 8 - c.jaccard AS est_err
  FROM cand_jacc c
  JOIN mh_sig_match m ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b),
lang_confusion AS (
  SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM lang_id GROUP BY 1, 2),
dedup_consensus AS (
  SELECT m.doc_a, m.doc_b, s.hamming
  FROM minhash_pairs_guarded m
  JOIN simhash_pairs s ON s.doc_a = m.doc_a AND s.doc_b = m.doc_b),
colloc_bi AS (
  SELECT split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2,
         CAST(count(*) AS BIGINT) AS n_pair
  FROM bigrams GROUP BY 1, 2 HAVING count(*) >= 5),
colloc_tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM bigrams),
colloc_uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM words_flat GROUP BY 1),
colloc_pmi AS (
  SELECT CAST(row_number() OVER (ORDER BY pmi DESC, n_pair DESC, w1, w2)
              AS BIGINT) AS rank, w1, w2, n_pair, pmi
  FROM (
    SELECT b.w1, b.w2, b.n_pair,
           CAST(length(bin(b.n_pair)) + length(bin(t.n_total))
              - length(bin(u1.n_w)) - length(bin(u2.n_w)) AS BIGINT) AS pmi
    FROM colloc_bi b
    JOIN colloc_uni u1 ON u1.w = b.w1
    JOIN colloc_uni u2 ON u2.w = b.w2
    CROSS JOIN colloc_tot t) s
  QUALIFY rank <= 50),
mix_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w_num
  FROM docs GROUP BY 1),
mix_weights AS (
  SELECT source, n_docs,
         CAST((n_docs * 1000000) // t.tot_docs AS BIGINT) AS share_ppm,
         CAST((w_num * 1000000) // t.tot_w AS BIGINT) AS w_ppm
  FROM mix_src,
       (SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs,
               CAST(sum(w_num) AS BIGINT) AS tot_w FROM mix_src) t),
dedup_bag AS (
  SELECT md5(array_to_string(list_sort(words), ' ')) AS fp,
         min(doc_id) AS keeper_doc_id,
         CAST(count(*) AS BIGINT) AS n_dups
  FROM docs_words GROUP BY 1),
shuffle_h AS (
  SELECT doc_id, md5('shuf|' || CAST(doc_id AS VARCHAR)) AS h FROM docs),
shuffle_shards AS (
  SELECT doc_id,
         ('0x' || substr(h, 1, 2))::BIGINT % 8 AS shard,
         CAST(row_number() OVER (
           PARTITION BY ('0x' || substr(h, 1, 2))::BIGINT % 8
           ORDER BY h, doc_id) AS BIGINT) AS rank
  FROM shuffle_h),
token_fertility AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(length(norm)) AS BIGINT) AS sum_chars,
         CAST(sum(len(words)) AS BIGINT) AS sum_tokens,
         CAST((CAST(sum(length(norm)) AS BIGINT)
               // CAST(sum(len(words)) AS BIGINT)) * 1000000
              + ((CAST(sum(length(norm)) AS BIGINT)
                  % CAST(sum(len(words)) AS BIGINT)) * 1000000)
                // CAST(sum(len(words)) AS BIGINT) AS BIGINT) AS fert_ppm
  FROM docs_words GROUP BY 1),
uni_tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM words_flat),
unigram_surprisal AS (
  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(length(bin(t.n_total)) - length(bin(u.n_w)))
              AS BIGINT) AS surprisal,
         CAST((CAST(sum(length(bin(t.n_total)) - length(bin(u.n_w)))
                    AS BIGINT) * 1000000) // count(*) AS BIGINT) AS mean_ppm
  FROM words_flat f
  JOIN colloc_uni u ON u.w = f.w
  CROSS JOIN uni_tot t
  GROUP BY 1),
src_words AS (
  SELECT DISTINCT source, w
  FROM (SELECT source, unnest(words) AS w FROM docs_words)),
src_vocab AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_vocab
  FROM src_words GROUP BY 1),
source_vocab_overlap AS (
  SELECT i.src_a, i.src_b, va.n_vocab AS n_a, vb.n_vocab AS n_b, i.n_inter,
         CAST(i.n_inter * 1000000
              // (va.n_vocab + vb.n_vocab - i.n_inter) AS BIGINT)
           AS jaccard_ppm
  FROM (SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS n_inter
        FROM src_words a JOIN src_words b
          ON a.w = b.w AND a.source < b.source
        GROUP BY 1, 2) i
  JOIN src_vocab va ON va.source = i.src_a
  JOIN src_vocab vb ON vb.source = i.src_b),
emb_norm_hist AS (
  SELECT label, CAST(length(bin(n2)) - 1 AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_vecs,
         min(n2) AS min_n2, max(n2) AS max_n2
  FROM emb_n GROUP BY 1, 2),
char_cnt AS (
  SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n_c
  FROM (SELECT doc_id, unnest(string_split(norm, '')) AS c FROM docs)
  GROUP BY 1, 2),
char_entropy AS (
  SELECT doc_id, n_chars, n_distinct_chars,
         CAST(n_chars * (length(bin(n_chars)) - 1) - sum_c_ilog2
              AS BIGINT) AS entropy_surr
  FROM (SELECT doc_id, CAST(sum(n_c) AS BIGINT) AS n_chars,
               CAST(count(*) AS BIGINT) AS n_distinct_chars,
               CAST(sum(n_c * (length(bin(n_c)) - 1)) AS BIGINT)
                 AS sum_c_ilog2
        FROM char_cnt GROUP BY 1) g),
dedup_pairs_editdist AS (
  SELECT p.doc_a, p.doc_b,
         CAST(levenshtein(da.norm, db.norm) AS BIGINT) AS editdist
  FROM minhash_pairs_guarded p
  JOIN docs da ON da.doc_id = p.doc_a
  JOIN docs db ON db.doc_id = p.doc_b
  WHERE levenshtein(da.norm, db.norm) <= 16),
dup_rate_by_source AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT md5(norm)) AS BIGINT) AS n_unique,
         CAST((count(*) - count(DISTINCT md5(norm))) * 1000000
              // count(*) AS BIGINT) AS dup_ppm
  FROM docs GROUP BY 1),
ann_f_scores AS (
  SELECT q.vec_id AS query_id, q.label AS label, c.vec_id AS cand_id,
         CAST(list_sum(list_transform(list_zip(q.qv, c.qv), x -> x[1] * x[2])) AS BIGINT) AS dot,
         q.n2 AS qa2, c.n2 AS ca2
  FROM emb_n q JOIN emb_n c ON c.vec_id != q.vec_id AND c.label = q.label
  WHERE q.vec_id % 50 = 0),
ann_filtered_topk AS (
  SELECT query_id, label, cand_id, score, CAST(rnk AS BIGINT) AS rnk FROM (
    SELECT query_id, label, cand_id,
           CAST(dot AS DOUBLE) / sqrt(CAST(qa2 AS DOUBLE) * CAST(ca2 AS DOUBLE)) AS score,
           row_number() OVER (PARTITION BY query_id
             ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qa2 AS DOUBLE) * CAST(ca2 AS DOUBLE)) DESC,
                      cand_id) AS rnk
    FROM ann_f_scores) s WHERE rnk <= 5),
ivf_cell_balance AS (
  SELECT centroid_id, n_vecs,
         CAST(n_vecs * 1000000 // t.n_total AS BIGINT) AS share_ppm,
         CAST(n_vecs * t.n_cells * 1000000 // t.n_total AS BIGINT)
           AS balance_ppm
  FROM (SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_vecs
        FROM ivf_assign GROUP BY 1) s,
       (SELECT CAST(count(*) AS BIGINT) AS n_total,
               CAST(count(DISTINCT centroid_id) AS BIGINT) AS n_cells
        FROM ivf_assign) t),
minhash_band_stats AS (
  SELECT band, CAST(length(bin(sz)) - 1 AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(sz) AS BIGINT) AS n_docs, max(sz) AS max_sz
  FROM (SELECT band, band_hash, CAST(count(*) AS BIGINT) AS sz
        FROM minhash_bands GROUP BY 1, 2) b
  GROUP BY 1, 2),
drift_words AS (
  SELECT s.split, unnest(d.words) AS w
  FROM docs_words d JOIN split_tvt s ON s.doc_id = d.doc_id
  WHERE s.split != 'val'),
drift_counts AS (
  SELECT split, w, CAST(count(*) AS BIGINT) AS n
  FROM drift_words GROUP BY 1, 2),
drift_tot AS (
  SELECT CAST(sum(CASE WHEN split = 'train' THEN n END) AS BIGINT)
           AS tot_train,
         CAST(sum(CASE WHEN split = 'test' THEN n END) AS BIGINT)
           AS tot_test
  FROM drift_counts),
token_freq_drift AS (
  SELECT rank, w, n_train, n_test, f_train_ppm, f_test_ppm,
         CAST(f_test_ppm - f_train_ppm AS BIGINT) AS drift_ppm
  FROM (
    SELECT tr.rank, tr.w, tr.n_train,
           COALESCE(te.n, 0) AS n_test,
           CAST(tr.n_train * 1000000 // t.tot_train AS BIGINT)
             AS f_train_ppm,
           CAST(COALESCE(te.n, 0) * 1000000 // t.tot_test AS BIGINT)
             AS f_test_ppm
    FROM (SELECT CAST(row_number() OVER (ORDER BY n DESC, w) AS BIGINT)
                   AS rank,
                 w, n AS n_train
          FROM drift_counts WHERE split = 'train'
          QUALIFY rank <= 50) tr
    LEFT JOIN (SELECT w, n FROM drift_counts WHERE split = 'test') te
      ON te.w = tr.w
    CROSS JOIN drift_tot t) x),
dedup_prefix AS (
  SELECT md5(array_to_string(words[1:16], ' ')) AS fp,
         min(doc_id) AS keeper_doc_id,
         CAST(count(*) AS BIGINT) AS n_dups
  FROM docs_words GROUP BY 1),
near_dup_rate_by_source AS (
  SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(CASE WHEN cs.sz > 1 THEN 1 END) AS BIGINT)
           AS n_near_dup,
         CAST(count(CASE WHEN cs.sz > 1 THEN 1 END) * 1000000
              // count(*) AS BIGINT) AS near_dup_ppm
  FROM docs d
  JOIN dedup_clusters c ON c.doc_id = d.doc_id
  JOIN (SELECT cluster, CAST(count(*) AS BIGINT) AS sz
        FROM dedup_clusters GROUP BY 1) cs ON cs.cluster = c.cluster
  GROUP BY 1),
contam_rate_by_source AS (
  SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(ct.doc_id) AS BIGINT) AS n_contaminated,
         CAST(count(ct.doc_id) * 1000000 // count(*) AS BIGINT)
           AS contam_ppm
  FROM docs d LEFT JOIN contamination ct ON ct.doc_id = d.doc_id
  GROUP BY 1),
top_docs_per_source AS (
  SELECT source, doc_id, quality, CAST(rnk AS BIGINT) AS rnk FROM (
    SELECT d.source, q.doc_id, q.quality,
           row_number() OVER (PARTITION BY d.source
                              ORDER BY q.quality DESC, q.doc_id) AS rnk
    FROM quality_score q JOIN docs d ON d.doc_id = q.doc_id) s
  WHERE rnk <= 3),
cross_source_dup_pairs AS (
  SELECT least(da.source, db.source) AS src_a,
         greatest(da.source, db.source) AS src_b,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM minhash_pairs_guarded p
  JOIN docs da ON da.doc_id = p.doc_a
  JOIN docs db ON db.doc_id = p.doc_b
  WHERE da.source != db.source
  GROUP BY 1, 2),
ann_label_agreement AS (
  SELECT ql.label, CAST(count(DISTINCT t.query_id) AS BIGINT) AS n_queries,
         CAST(count(*) AS BIGINT) AS n_hits,
         CAST(count(CASE WHEN cl.label = ql.label THEN 1 END) AS BIGINT)
           AS n_same,
         CAST(count(CASE WHEN cl.label = ql.label THEN 1 END) * 1000000
              // count(*) AS BIGINT) AS agreement_ppm
  FROM ann_cosine_topk t
  JOIN emb_n ql ON ql.vec_id = t.query_id
  JOIN emb_n cl ON cl.vec_id = t.cand_id
  GROUP BY 1),
mc_inter AS (
  SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS n_shared
  FROM minhash_pairs_guarded p
  JOIN docs_sh_d a ON a.doc_id = p.doc_a
  JOIN docs_sh_d b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2),
minhash_containment AS (
  SELECT p.doc_a, p.doc_b,
         COALESCE(i.n_shared, 0) AS n_shared,
         sa.n_sh AS n_a, sb.n_sh AS n_b,
         CAST(COALESCE(i.n_shared, 0) * 1000000 // sa.n_sh AS BIGINT)
           AS contain_a_ppm,
         CAST(COALESCE(i.n_shared, 0) * 1000000 // sb.n_sh AS BIGINT)
           AS contain_b_ppm
  FROM minhash_pairs_guarded p
  LEFT JOIN mc_inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
  JOIN sh_sizes sa ON sa.doc_id = p.doc_a
  JOIN sh_sizes sb ON sb.doc_id = p.doc_b),
ngram_novelty AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_sh,
         CAST(count(CASE WHEN d.sh_df = 1 THEN 1 END) AS BIGINT)
           AS n_unique,
         CAST(count(CASE WHEN d.sh_df = 1 THEN 1 END) * 1000000
              // count(*) AS BIGINT) AS novelty_ppm
  FROM docs_sh_d s
  JOIN (SELECT shingle, CAST(count(*) AS BIGINT) AS sh_df
        FROM docs_sh_d GROUP BY 1) d ON d.shingle = s.shingle
  GROUP BY 1),
token_budget_select AS (
  SELECT source, doc_id, rank, n_tokens, cum_tokens FROM (
    SELECT d.source, q.doc_id, t.n_tokens,
           CAST(row_number() OVER w AS BIGINT) AS rank,
           CAST(sum(t.n_tokens) OVER w AS BIGINT) AS cum_tokens
    FROM quality_score q
    JOIN docs d ON d.doc_id = q.doc_id
    JOIN text_stats t ON t.doc_id = q.doc_id
    WINDOW w AS (PARTITION BY d.source ORDER BY q.quality DESC, q.doc_id)) s
  WHERE cum_tokens <= 800),
curriculum_order AS (
  SELECT doc_id, stage, shard,
         CAST(row_number() OVER (PARTITION BY stage, shard
                                 ORDER BY h, doc_id) AS BIGINT) AS pos
  FROM (
    SELECT doc_id, stage, h,
           CAST(('0x' || substr(h, 1, 2)) AS BIGINT) % 8 AS shard
    FROM (SELECT doc_id,
                 least(CAST(floor(quality * 10.0) AS BIGINT), 9) AS stage,
                 md5('curr|' || CAST(doc_id AS VARCHAR)) AS h
          FROM quality_score) a) b),
weighted_sample AS (
  SELECT doc_id, u_hash, quality FROM (
    SELECT doc_id, quality,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                AS BIGINT) AS u_hash,
           CAST(floor(quality * 0.5 * 16777216.0) AS BIGINT) AS threshold
    FROM quality_score) s
  WHERE u_hash < threshold),
pack_buckets AS (
  SELECT bucket, shard, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(max(bin) + 1 AS BIGINT) AS n_bins,
         CAST(sum(t) AS BIGINT) AS bucket_tokens,
         CAST(CAST(sum(t) AS BIGINT) * 1000000
              // ((max(bin) + 1) * 256) AS BIGINT) AS fill_ppm
  FROM (
    SELECT bucket, shard, t,
           (row_number() OVER (PARTITION BY bucket, shard ORDER BY doc_id)
             - 1) // (256 // (1 << CAST(bucket AS INTEGER))) AS bin
    FROM (
      SELECT doc_id, doc_id % 8 AS shard,
             least(CAST(len(words) AS BIGINT), 256) AS t,
             CAST(length(bin(least(CAST(len(words) AS BIGINT), 256))) - 1
                  AS BIGINT) AS bucket
      FROM docs_words) x) p
  GROUP BY 1, 2),
emb_dim_profile AS (
  SELECT CAST(i AS BIGINT) AS dim,
         CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(q) AS BIGINT) AS sum_q,
         CAST(sum(q * q) AS BIGINT) AS sumsq_q,
         CAST(CAST(sum(q) AS BIGINT) // count(*) AS BIGINT) AS mean_q
  FROM (SELECT i, qv[i + 1] AS q
        FROM emb_n, unnest(range(0, len(qv))) t(i)) e
  GROUP BY 1),
emb_anisotropy AS (
  SELECT CAST(n_vecs AS BIGINT) AS n_vecs,
         CAST(sum_norm2 AS BIGINT) AS sum_norm2,
         CAST(cn2 AS DOUBLE) AS centroid_norm2,
         CAST(floor(CAST(cn2 AS DOUBLE) * 1000000.0
              / (CAST(n_vecs AS DOUBLE) * CAST(sum_norm2 AS DOUBLE)))
              AS BIGINT) AS aniso_ppm
  FROM (SELECT count(*) AS n_vecs, sum(n2) AS sum_norm2 FROM emb_n) a,
       (SELECT sum(s_d * s_d) AS cn2 FROM (
          SELECT sum(qv[i + 1]) AS s_d
          FROM emb_n, unnest(range(0, len(qv))) t(i)
          GROUP BY i) d) b),
quality_dup_calibration AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(CASE WHEN n_dups > 1 THEN 1 END) AS BIGINT)
           AS n_dup_docs,
         CAST(count(CASE WHEN n_dups > 1 THEN 1 END) * 1000000
              // count(*) AS BIGINT) AS dup_ppm
  FROM (
    SELECT least(CAST(floor(q.quality * 10.0) AS BIGINT), 9) AS decile,
           e.n_dups
    FROM docs d
    JOIN dedup_exact e ON e.fp = md5(d.norm)
    JOIN quality_score q ON q.doc_id = d.doc_id) c
  GROUP BY 1),
jaccard_hist AS (
  SELECT least(n_shared * 10 // (n_a + n_b - n_shared), 9) AS bucket,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(n_shared) AS BIGINT) AS sum_shared
  FROM minhash_containment
  GROUP BY 1),
nov_hist_sh AS (
  SELECT DISTINCT shingle FROM docs_sh_d, inc_cut WHERE doc_id <= cutoff),
ngram_novelty_inc AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_sh,
         CAST(count(CASE WHEN h.shingle IS NULL THEN 1 END) AS BIGINT)
           AS n_new,
         CAST(count(CASE WHEN h.shingle IS NULL THEN 1 END) * 1000000
              // count(*) AS BIGINT) AS novelty_ppm
  FROM (SELECT d.doc_id, d.shingle FROM docs_sh_d d, inc_cut c
        WHERE d.doc_id > c.cutoff) s
  LEFT JOIN nov_hist_sh h ON h.shingle = s.shingle
  GROUP BY 1),
charset_profile AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_ascii) AS BIGINT) AS n_ascii,
         CAST(sum(n_non_ascii) AS BIGINT) AS n_non_ascii,
         CAST(CAST(sum(n_non_ascii) AS BIGINT) * 1000000
              // (CAST(sum(n_ascii) AS BIGINT)
                  + CAST(sum(n_non_ascii) AS BIGINT)) AS BIGINT)
           AS non_ascii_ppm
  FROM (
    SELECT source,
           CAST(len(regexp_extract_all(norm, '[ -~]')) AS BIGINT)
             AS n_ascii,
           CAST(len(regexp_extract_all(norm, '[^ -~]')) AS BIGINT)
             AS n_non_ascii
    FROM docs) c
  GROUP BY 1),
emb_label_cohesion AS (
  SELECT CAST(t.label AS BIGINT) AS label,
         CAST(t.n_vecs AS BIGINT) AS n_vecs,
         CAST(t.sum_norm2 AS BIGINT) AS sum_norm2,
         CAST(d.cn2 AS DOUBLE) AS centroid_norm2,
         CAST(floor(CAST(d.cn2 AS DOUBLE) * 1000000.0
              / (CAST(t.n_vecs AS DOUBLE) * CAST(t.sum_norm2 AS DOUBLE)))
              AS BIGINT) AS cohesion_ppm
  FROM (SELECT label, count(*) AS n_vecs, sum(n2) AS sum_norm2
        FROM emb_n GROUP BY 1) t
  JOIN (SELECT label, sum(s_d * s_d) AS cn2 FROM (
          SELECT label, i, sum(qv[i + 1]) AS s_d
          FROM emb_n, unnest(range(0, len(qv))) u(i)
          GROUP BY 1, 2) s
        GROUP BY 1) d ON d.label = t.label),
pq_distortion AS (
  SELECT CAST(e.label AS BIGINT) AS label,
         CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(v.vd2) AS BIGINT) AS sum_d2,
         CAST(sum(e.n2) AS BIGINT) AS sum_norm2,
         CAST(sum(v.vd2) * 1000000 // sum(e.n2) AS BIGINT)
           AS distortion_ppm
  FROM (SELECT vec_id, CAST(sum(d2) AS BIGINT) AS vd2
        FROM pq_codes GROUP BY 1) v
  JOIN emb_n e ON e.vec_id = v.vec_id
  GROUP BY 1),
dedup_cluster_sizes AS (
  SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(sum(sz) AS BIGINT) AS n_docs,
         CAST(max(sz) AS BIGINT) AS max_sz
  FROM (SELECT cluster, CAST(count(*) AS BIGINT) AS sz
        FROM dedup_clusters GROUP BY 1) c
  GROUP BY 1),
pair_degree_dist AS (
  SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(deg) AS BIGINT) AS sum_deg
  FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT doc_a AS doc_id FROM minhash_pairs_guarded
          UNION ALL SELECT doc_b AS doc_id FROM minhash_pairs_guarded) e
        GROUP BY 1) d
  GROUP BY 1),
mix_epochs AS (
  SELECT source, n_docs, share_ppm, w_ppm,
         CAST(w_ppm * 1000000 // share_ppm AS BIGINT) AS epochs_ppm
  FROM mix_weights),
doc_bigrams AS (
  SELECT doc_id, split_part(bigram, ' ', 1) AS w1,
         split_part(bigram, ' ', 2) AS w2
  FROM (SELECT doc_id, unnest(CASE WHEN len(words) >= 2
          THEN [words[i+1] || ' ' || words[i+2] for i in range(0, len(words)-1)]
          ELSE CAST([] AS VARCHAR[]) END) AS bigram
        FROM docs_words) b),
bigram_surprisal AS (
  SELECT doc_id, n_bigrams, surprisal,
         CAST(surprisal * 1000000 // n_bigrams AS BIGINT) AS mean_ppm
  FROM (
    SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(length(bin(h.n_head)) - length(bin(p.n_pair)))
                AS BIGINT) AS surprisal
    FROM doc_bigrams g
    JOIN (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
          FROM doc_bigrams GROUP BY 1, 2) p
      ON p.w1 = g.w1 AND p.w2 = g.w2
    JOIN (SELECT w1, CAST(count(*) AS BIGINT) AS n_head
          FROM doc_bigrams GROUP BY 1) h
      ON h.w1 = g.w1
    GROUP BY 1) s),
lexical_diversity AS (
  SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(words)) AS BIGINT) AS n_types,
         CAST(CAST(len(list_distinct(words)) AS BIGINT) * 1000000
              // len(words) AS BIGINT) AS ttr_ppm
  FROM docs_words),
token_gini AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(sum(rank * n_tokens) AS BIGINT) AS rank_weighted_sum,
         CAST((2 * CAST(sum(rank * n_tokens) AS BIGINT) * 1000000)
                // (CAST(count(*) AS BIGINT) * CAST(sum(n_tokens) AS BIGINT))
              - ((CAST(count(*) AS BIGINT) + 1) * 1000000) // count(*)
            AS BIGINT) AS gini_ppm
  FROM (SELECT source, n_tokens,
               CAST(row_number() OVER (PARTITION BY source
                      ORDER BY n_tokens, doc_id) AS BIGINT) AS rank
        FROM (SELECT source, doc_id, CAST(len(words) AS BIGINT) AS n_tokens
              FROM docs_words) t) r
  GROUP BY 1),
cluster_purity AS (
  SELECT cluster, CAST(sum(n_src) AS BIGINT) AS sz,
         CAST(count(*) AS BIGINT) AS n_sources,
         CAST(max(n_src) AS BIGINT) AS majority_n,
         CAST(CAST(max(n_src) AS BIGINT) * 1000000
              // CAST(sum(n_src) AS BIGINT) AS BIGINT) AS purity_ppm
  FROM (SELECT c.cluster, d.source, CAST(count(*) AS BIGINT) AS n_src
        FROM dedup_clusters c JOIN docs d ON d.doc_id = c.doc_id
        GROUP BY 1, 2) s
  GROUP BY 1
  HAVING sum(n_src) >= 2),
mm_chunks AS (
  SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
         md5(substr(text, CAST(ci * 256 + 1 AS INTEGER), 256)) AS chunk_fp
  FROM (SELECT doc_id, text,
               unnest(range(0, 1 + (greatest(len(text), 1) - 1) // 256)) AS ci
        FROM documents) t),
mm_chunks_d AS (
  SELECT DISTINCT doc_id, chunk_fp FROM mm_chunks
  WHERE chunk_fp IN (SELECT chunk_fp FROM mm_chunks
                     GROUP BY 1 HAVING count(*) <= 64)),
mm_frame_dedup AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS shared_chunks
  FROM mm_chunks_d a JOIN mm_chunks_d b
    ON a.chunk_fp = b.chunk_fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2),
split_leakage AS (
  SELECT least(sa.split, sb.split) AS split_a,
         greatest(sa.split, sb.split) AS split_b,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM dedup_pairs_verified p
  JOIN split_tvt sa ON sa.doc_id = p.doc_a
  JOIN split_tvt sb ON sb.doc_id = p.doc_b
  GROUP BY 1, 2),
ver_scored AS (
  SELECT p.doc_a, p.doc_b,
         CAST(COALESCE(i.i, 0) AS BIGINT) AS n_common,
         CAST(sa.n_sh + sb.n_sh - COALESCE(i.i, 0) AS BIGINT) AS n_union
  FROM minhash_pairs_guarded p
  LEFT JOIN ver_inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
  JOIN sh_sizes sa ON sa.doc_id = p.doc_a
  JOIN sh_sizes sb ON sb.doc_id = p.doc_b),
thr_flat AS (
  SELECT t.t_ppm, v.doc_a, v.doc_b
  FROM (SELECT CAST(unnest([500000, 700000, 900000]) AS BIGINT) AS t_ppm) t
  JOIN ver_scored v ON v.n_common * 1000000 >= t.t_ppm * v.n_union),
dedup_threshold_sweep AS (
  SELECT p.t_ppm, p.n_pairs, d.n_docs
  FROM (SELECT t_ppm, CAST(count(*) AS BIGINT) AS n_pairs
        FROM thr_flat GROUP BY 1) p
  JOIN (SELECT t_ppm, CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
        FROM (SELECT t_ppm, unnest([doc_a, doc_b]) AS doc FROM thr_flat) u
        GROUP BY 1) d USING (t_ppm)),
lt_ranked AS (
  SELECT lang, doc_id, CAST(len(words) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY lang
           ORDER BY len(words), doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM docs_words),
lt_fences AS (
  SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
         CAST(max(CASE WHEN rn = (n + 19) // 20 THEN n_tokens END)
              AS BIGINT) AS p5,
         CAST(max(CASE WHEN rn = (19 * n + 19) // 20 THEN n_tokens END)
              AS BIGINT) AS p95
  FROM lt_ranked GROUP BY 1),
length_trim AS (
  SELECT r.lang, max(f.n_docs) AS n_docs, max(f.p5) AS p5,
         max(f.p95) AS p95,
         CAST(sum(CASE WHEN r.n_tokens < f.p5 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_below,
         CAST(sum(CASE WHEN r.n_tokens > f.p95 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_above,
         CAST(sum(CASE WHEN r.n_tokens >= f.p5 AND r.n_tokens <= f.p95
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
  FROM lt_ranked r JOIN lt_fences f ON f.lang = r.lang
  GROUP BY 1),
source_bigram_diversity AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS n_bigrams,
         CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
         CAST(count(*) * 1000000 // CAST(sum(n) AS BIGINT) AS BIGINT)
           AS diversity_ppm
  FROM (SELECT source, bigram, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT w.source, b.bigram FROM docs_words w,
              unnest(CASE WHEN len(words) >= 2
                THEN [words[i+1] || ' ' || words[i+2]
                      for i in range(0, len(words)-1)]
                ELSE CAST([] AS VARCHAR[]) END) b(bigram)) s
        GROUP BY 1, 2) g
  GROUP BY 1),
contrastive_terms AS (
  SELECT source, rank, w, n_sw, n_rest, score FROM (
    SELECT source, w, n_sw, n_rest,
           CAST(length(bin(n_sw)) - length(bin(n_rest + 1)) AS BIGINT)
             AS score,
           CAST(row_number() OVER (PARTITION BY source
                  ORDER BY length(bin(n_sw)) - length(bin(n_rest + 1)) DESC,
                           n_sw DESC, w) AS BIGINT) AS rank
    FROM (
      SELECT s.source, s.w, s.n_sw,
             CAST(t.n_w - s.n_sw AS BIGINT) AS n_rest
      FROM (SELECT d.source, f.w, CAST(count(*) AS BIGINT) AS n_sw
            FROM words_flat f JOIN docs d USING (doc_id)
            GROUP BY 1, 2) s
      JOIN (SELECT w, CAST(count(*) AS BIGINT) AS n_w
            FROM words_flat GROUP BY 1) t USING (w)
      WHERE s.n_sw >= 10) b) z
  WHERE rank <= 5),
mm_size_hist AS (
  SELECT CAST(length(bin(greatest(byte_len, 1))) - 1 AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(byte_len) AS BIGINT) AS sum_bytes,
         CAST(sum(n_frames) AS BIGINT) AS sum_frames
  FROM mm_meta GROUP BY 1),
emb_principal AS (
  SELECT dim, y,
         CAST(row_number() OVER (ORDER BY abs(y) DESC, dim) AS BIGINT)
           AS rank
  FROM (SELECT CAST(dim0 AS BIGINT) AS dim,
               CAST(sum(s_i * v) AS BIGINT) AS y
        FROM (SELECT CAST(list_sum(qv) AS BIGINT) AS s_i,
                     unnest(qv) AS v,
                     unnest(range(0, len(qv))) AS dim0
              FROM emb_n) x
        GROUP BY 1) g
  QUALIFY rank <= 5),
cur_flags AS (
  SELECT d.doc_id,
         (c.cluster = d.doc_id) AS f_canon,
         (q.quality >= 0.5) AS f_quality,
         (e.keeper_doc_id IS NOT NULL) AS f_exact,
         (ct.doc_id IS NULL) AS f_clean,
         (NOT p.has_pii) AS f_pii,
         (r.rep_ratio <= 0.5) AS f_rep
  FROM docs d
  JOIN dedup_clusters c ON c.doc_id = d.doc_id
  JOIN quality_score q ON q.doc_id = d.doc_id
  LEFT JOIN (SELECT DISTINCT keeper_doc_id FROM dedup_exact) e
    ON e.keeper_doc_id = d.doc_id
  LEFT JOIN (SELECT DISTINCT doc_id FROM contamination) ct
    ON ct.doc_id = d.doc_id
  JOIN pii_scan p ON p.doc_id = d.doc_id
  JOIN repetition r ON r.doc_id = d.doc_id),
curation_funnel AS (
  SELECT stage_id, stage, n_docs,
         CAST(n_docs * 1000000
              // (SELECT CAST(count(*) AS BIGINT) FROM cur_flags)
              AS BIGINT) AS retained_ppm
  FROM (
    SELECT CAST(1 AS BIGINT) AS stage_id, 'raw' AS stage,
           CAST(count(*) AS BIGINT) AS n_docs FROM cur_flags
    UNION ALL SELECT 2, 'canonical',
      CAST(count(*) FILTER (WHERE f_canon) AS BIGINT) FROM cur_flags
    UNION ALL SELECT 3, 'quality',
      CAST(count(*) FILTER (WHERE f_canon AND f_quality) AS BIGINT)
      FROM cur_flags
    UNION ALL SELECT 4, 'exact_keeper',
      CAST(count(*) FILTER (WHERE f_canon AND f_quality AND f_exact)
           AS BIGINT) FROM cur_flags
    UNION ALL SELECT 5, 'decontaminated',
      CAST(count(*) FILTER (WHERE f_canon AND f_quality AND f_exact
                              AND f_clean) AS BIGINT) FROM cur_flags
    UNION ALL SELECT 6, 'pii_clean',
      CAST(count(*) FILTER (WHERE f_canon AND f_quality AND f_exact
                              AND f_clean AND f_pii) AS BIGINT)
      FROM cur_flags
    UNION ALL SELECT 7, 'repetition',
      CAST(count(*) FILTER (WHERE f_canon AND f_quality AND f_exact
                              AND f_clean AND f_pii AND f_rep) AS BIGINT)
      FROM cur_flags) s),
cur_flags_inc AS (
  SELECT f.* FROM cur_flags f, inc_cut WHERE f.doc_id > cutoff),
curation_funnel_inc AS (
  SELECT stage_id, stage, n_docs,
         CAST(n_docs * 1000000
              // (SELECT CAST(count(*) AS BIGINT) FROM cur_flags_inc)
              AS BIGINT) AS retained_ppm
  FROM (
    SELECT CAST(1 AS BIGINT) AS stage_id, 'raw' AS stage,
           CAST(count(*) AS BIGINT) AS n_docs FROM cur_flags_inc
    UNION ALL SELECT 2, 'canonical',
      CAST(count(*) FILTER (WHERE f_canon) AS BIGINT) FROM cur_flags_inc
    UNION ALL SELECT 3, 'quality',
      CAST(count(*) FILTER (WHERE f_canon AND f_quality) AS BIGINT)
      FROM cur_flags_inc
    UNION ALL SELECT 4, 'exact_keeper',
      CAST(count(*) FILTER (WHERE f_canon AND f_quality AND f_exact)
           AS BIGINT) FROM cur_flags_inc
    UNION ALL SELECT 5, 'decontaminated',
      CAST(count(*) FILTER (WHERE f_canon AND f_quality AND f_exact
                              AND f_clean) AS BIGINT) FROM cur_flags_inc
    UNION ALL SELECT 6, 'pii_clean',
      CAST(count(*) FILTER (WHERE f_canon AND f_quality AND f_exact
                              AND f_clean AND f_pii) AS BIGINT)
      FROM cur_flags_inc
    UNION ALL SELECT 7, 'repetition',
      CAST(count(*) FILTER (WHERE f_canon AND f_quality AND f_exact
                              AND f_clean AND f_pii AND f_rep) AS BIGINT)
      FROM cur_flags_inc) s),
dedup_length_shift AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_raw,
         CAST(count(c.doc_id) AS BIGINT) AS n_curated,
         CAST(CAST(count(c.doc_id) AS BIGINT) * 1000000 // count(*)
              AS BIGINT) AS kept_ppm
  FROM (SELECT doc_id,
               CAST(length(bin(greatest(n_tokens, 1))) - 1 AS BIGINT)
                 AS bucket
        FROM text_stats) t
  LEFT JOIN corpus_curated_v2 c ON c.doc_id = t.doc_id
  GROUP BY 1),
knn_mutual AS (
  SELECT CAST(count(*) AS BIGINT) AS n_eval,
         CAST(count(m.query_id) AS BIGINT) AS n_mutual,
         CAST(CASE WHEN count(*) = 0 THEN 0
              ELSE CAST(count(m.query_id) AS BIGINT) * 1000000
                   // CAST(count(*) AS BIGINT) END AS BIGINT) AS mutual_ppm
  FROM (SELECT query_id, cand_id FROM ann_cosine_topk
        WHERE cand_id % 50 = 0) e
  LEFT JOIN ann_cosine_topk m
    ON m.query_id = e.cand_id AND m.cand_id = e.query_id),
hapax_rate AS (
  SELECT source, CAST(sum(n_w) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS vocab,
         CAST(count(*) FILTER (WHERE n_w = 1) AS BIGINT) AS hapax,
         CAST(CAST(count(*) FILTER (WHERE n_w = 1) AS BIGINT)
              * 1000000 // count(*) AS BIGINT) AS hapax_vocab_ppm,
         CAST(CAST(count(*) FILTER (WHERE n_w = 1) AS BIGINT)
              * 1000000 // CAST(sum(n_w) AS BIGINT) AS BIGINT)
           AS hapax_token_ppm
  FROM (SELECT d.source, f.w, CAST(count(*) AS BIGINT) AS n_w
        FROM words_flat f JOIN docs d USING (doc_id)
        WHERE f.w <> ''
        GROUP BY 1, 2) sw
  GROUP BY 1),
ann_mrr AS (
  SELECT CAST(count(*) AS BIGINT) AS n_queries,
         CAST(count(a.rnk) AS BIGINT) AS n_found,
         CAST(sum(COALESCE(1000000 // a.rnk, 0)) AS BIGINT) AS sum_rr_ppm,
         CAST(sum(COALESCE(1000000 // a.rnk, 0)) // count(*) AS BIGINT)
           AS mrr_ppm
  FROM (SELECT query_id, cand_id FROM ann_cosine_topk WHERE rnk = 1) e
  LEFT JOIN ivfpq_topk a
    ON a.query_id = e.query_id AND a.cand_id = e.cand_id),
zipf_vocab AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n FROM words_flat GROUP BY 1),
zipf_hist AS (
  SELECT n, CAST(count(*) AS BIGINT) AS n_words FROM zipf_vocab GROUP BY 1),
zipf_blocks AS (
  SELECT n_words,
         CAST(length(bin(greatest(
           CAST(COALESCE(sum(n_words) OVER (ORDER BY n DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
             AS BIGINT), 1))) - 1 AS BIGINT) AS x,
         CAST(length(bin(greatest(n, 1))) - 1 AS BIGINT) AS y
  FROM zipf_hist),
zipf_fit AS (
  SELECT CAST(sum(n_words) AS BIGINT) AS n_vocab,
         CAST(sum(n_words * x) AS BIGINT) AS sx,
         CAST(sum(n_words * y) AS BIGINT) AS sy,
         CAST(sum(n_words * x * x) AS BIGINT) AS sxx,
         CAST(sum(n_words * x * y) AS BIGINT) AS sxy,
         CAST(CAST(sum(n_words) AS BIGINT) * CAST(sum(n_words * x * y) AS BIGINT)
              - CAST(sum(n_words * x) AS BIGINT)
                * CAST(sum(n_words * y) AS BIGINT) AS BIGINT) AS slope_num,
         CAST(CAST(sum(n_words) AS BIGINT) * CAST(sum(n_words * x * x) AS BIGINT)
              - CAST(sum(n_words * x) AS BIGINT)
                * CAST(sum(n_words * x) AS BIGINT) AS BIGINT) AS slope_den
  FROM zipf_blocks),
ks_cell AS (
  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS cnt
  FROM docs GROUP BY 1, 2),
ks_lengths AS (SELECT DISTINCT n_chars FROM ks_cell),
ks_sources AS (
  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_source FROM ks_cell GROUP BY 1),
ks_global AS (
  SELECT n_chars,
         CAST(sum(gcnt) OVER (ORDER BY n_chars
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_all
  FROM (SELECT n_chars, CAST(sum(cnt) AS BIGINT) AS gcnt
        FROM ks_cell GROUP BY 1) g),
ks_grid AS (
  SELECT s.source, s.n_source, l.n_chars,
         CAST(sum(COALESCE(c.cnt, 0)) OVER (PARTITION BY s.source
           ORDER BY l.n_chars ROWS BETWEEN UNBOUNDED PRECEDING
           AND CURRENT ROW) AS BIGINT) AS cum_s
  FROM ks_sources s CROSS JOIN ks_lengths l
  LEFT JOIN ks_cell c ON c.source = s.source AND c.n_chars = l.n_chars),
ks_source_drift AS (
  SELECT g.source, g.n_source, t.n_total,
         CAST(max(abs(g.cum_s * t.n_total - ga.cum_all * g.n_source))
           AS BIGINT) AS ks_num,
         CAST(max(abs(g.cum_s * t.n_total - ga.cum_all * g.n_source))
              * 1000000 // (g.n_source * t.n_total) AS BIGINT) AS ks_ppm
  FROM ks_grid g
  JOIN ks_global ga ON ga.n_chars = g.n_chars
  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_total FROM docs) t
  GROUP BY 1, 2, 3),
length_token_moments AS (
  SELECT d.source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t.n_chars_norm) AS BIGINT) AS sx,
         CAST(sum(t.n_tokens) AS BIGINT) AS sy,
         CAST(sum(t.n_chars_norm * t.n_chars_norm) AS BIGINT) AS sxx,
         CAST(sum(t.n_tokens * t.n_tokens) AS BIGINT) AS syy,
         CAST(sum(t.n_chars_norm * t.n_tokens) AS BIGINT) AS sxy
  FROM text_stats t JOIN docs d USING (doc_id)
  GROUP BY 1),
simhash_bit_balance AS (
  SELECT CAST(bit AS BIGINT) AS bit,
         CAST(sum((simhash64 >> CAST(bit AS INTEGER)) & 1) AS BIGINT)
           AS n_ones,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(CAST(sum((simhash64 >> CAST(bit AS INTEGER)) & 1) AS BIGINT)
              * 1000000 // count(*) AS BIGINT) AS ones_ppm
  FROM simhash64, range(0, 64) t(bit)
  GROUP BY 1),
boilerplate_shingles AS (
  SELECT CAST(row_number() OVER (ORDER BY n_docs DESC, shingle) AS BIGINT)
           AS rank,
         shingle, n_docs,
         CAST(n_docs * 1000000 // t.n_total AS BIGINT) AS df_ppm
  FROM (SELECT shingle, CAST(count(*) AS BIGINT) AS n_docs
        FROM docs_sh_d GROUP BY 1
        ORDER BY n_docs DESC, shingle LIMIT 20) s
  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_total FROM docs) t),
knn_edges AS (
  SELECT e.query_id AS doc_a, e.cand_id AS doc_b
  FROM ann_cosine_topk e
  JOIN ann_cosine_topk m
    ON m.query_id = e.cand_id AND m.cand_id = e.query_id
  WHERE e.cand_id % 50 = 0 AND e.query_id < e.cand_id),
knn_sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM knn_edges
  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM knn_edges),
knn_reach AS (
  SELECT DISTINCT query_id AS node, query_id AS label FROM ann_cosine_topk
  UNION
  SELECT e.dst AS node, r.label FROM knn_reach r
  JOIN knn_sym e ON e.src = r.node),
knn_components AS (
  SELECT CAST(cluster AS BIGINT) AS cluster,
         CAST(count(*) AS BIGINT) AS n_members
  FROM (SELECT node, min(label) AS cluster FROM knn_reach GROUP BY 1) c
  GROUP BY 1),
knn_s AS (
  SELECT vec_id, qv, n2 FROM emb_n WHERE vec_id % 50 = 0
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1024),
knn_s_topk AS (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY CAST(list_sum(list_transform(list_zip(q.qv, c.qv), x -> x[1] * x[2])) AS DOUBLE)
                      / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE)) DESC,
                      c.vec_id) AS rnk
    FROM knn_s q JOIN knn_s c ON c.vec_id != q.vec_id) s
  WHERE rnk <= 5),
knn_s_edges AS (
  SELECT e.query_id AS doc_a, e.cand_id AS doc_b
  FROM knn_s_topk e
  JOIN knn_s_topk m
    ON m.query_id = e.cand_id AND m.cand_id = e.query_id
  WHERE e.query_id < e.cand_id),
knn_s_sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM knn_s_edges
  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM knn_s_edges),
knn_s_reach AS (
  SELECT DISTINCT query_id AS node, query_id AS label FROM knn_s_topk
  UNION
  SELECT e.dst AS node, r.label FROM knn_s_reach r
  JOIN knn_s_sym e ON e.src = r.node),
knn_components_sampled AS (
  SELECT CAST(cluster AS BIGINT) AS cluster,
         CAST(count(*) AS BIGINT) AS n_members
  FROM (SELECT node, min(label) AS cluster FROM knn_s_reach GROUP BY 1) c
  GROUP BY 1),
stopword_profile AS (
  SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(t.n_tokens) AS BIGINT) AS sum_tokens,
         CAST(sum(t.stop_cnt) AS BIGINT) AS sum_stop,
         CAST(CAST(sum(t.stop_cnt) AS BIGINT) * 1000000
              // CAST(sum(t.n_tokens) AS BIGINT) AS BIGINT) AS stop_ppm
  FROM text_stats t JOIN docs d USING (doc_id)
  GROUP BY 1),
dup_inflation AS (
  SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(*) FILTER (WHERE e.keeper_doc_id = d.doc_id) AS BIGINT)
           AS n_keep,
         CAST(sum(t.n_tokens) AS BIGINT) AS tokens_total,
         CAST(COALESCE(sum(t.n_tokens)
                FILTER (WHERE e.keeper_doc_id = d.doc_id), 0) AS BIGINT)
           AS tokens_keep,
         CAST((CAST(sum(t.n_tokens) AS BIGINT)
               - CAST(COALESCE(sum(t.n_tokens)
                        FILTER (WHERE e.keeper_doc_id = d.doc_id), 0)
                      AS BIGINT))
              * 1000000 // CAST(sum(t.n_tokens) AS BIGINT) AS BIGINT)
           AS savings_ppm
  FROM docs d
  JOIN dedup_exact e ON e.fp = md5(d.norm)
  JOIN text_stats t ON t.doc_id = d.doc_id
  GROUP BY 1),
token_len_hist AS (
  SELECT CAST(strlen(w) AS BIGINT) AS len_bytes,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT w) AS BIGINT) AS n_words
  FROM words_flat GROUP BY 1),
shard_skew AS (
  SELECT CAST(count(*) AS BIGINT) AS n_shards,
         CAST(min(sz) AS BIGINT) AS min_sz,
         CAST(max(sz) AS BIGINT) AS max_sz,
         CAST(sum(sz) AS BIGINT) AS n_docs,
         CAST(max(sz) * 1000000 * count(*) // sum(sz) AS BIGINT) AS skew_ppm
  FROM (SELECT shard, CAST(count(*) AS BIGINT) AS sz
        FROM shuffle_shards GROUP BY 1) s)
"""

  val text: String = text1 + text2
}
