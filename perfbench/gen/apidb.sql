-- Deterministic apidb-shaped OSM database for the planet-dump benchmark.
--
-- psql variables: :seed (any integer) and :scale (row-count multiplier
-- over the Liechtenstein 2013-08-03 extract: 1,405 changesets, 65,734
-- nodes, 7,121 ways, 113 relations, ... see BASELINE.md). Every value is
-- a function of (:seed, row key) through hashint8extended, so the same
-- seed and scale give the same rows.
--
-- Column names and orders are the COPY headers of FIXTURES.md §2. The
-- rows cover the cases the golden dumps cover: control characters in
-- tag values, a changeset comment over 64 KiB, redacted versions,
-- deleted elements, negative ids and non-public users.
--
-- The last statement prints the element counts every output must
-- contain, as `name<TAB>count` lines.

\set ON_ERROR_STOP on
SET client_min_messages = warning;

CREATE TYPE nwr_enum AS ENUM ('Node', 'Way', 'Relation');

CREATE TABLE users (
  email text NOT NULL, id bigint NOT NULL, pass_crypt text,
  creation_time timestamp, display_name text, data_public boolean,
  description text, home_lat double precision, home_lon double precision,
  home_zoom smallint, nearby integer, pass_salt text);
CREATE TABLE changesets (
  id bigint NOT NULL, user_id bigint NOT NULL, created_at timestamp NOT NULL,
  min_lat integer, max_lat integer, min_lon integer, max_lon integer,
  closed_at timestamp NOT NULL, num_changes integer NOT NULL);
CREATE TABLE nodes (
  node_id bigint NOT NULL, latitude integer NOT NULL, longitude integer NOT NULL,
  changeset_id bigint NOT NULL, visible boolean NOT NULL,
  "timestamp" timestamp NOT NULL, tile bigint NOT NULL, version bigint NOT NULL,
  redaction_id integer);
CREATE TABLE ways (
  way_id bigint NOT NULL, changeset_id bigint NOT NULL,
  "timestamp" timestamp NOT NULL, version bigint NOT NULL,
  visible boolean NOT NULL, redaction_id integer);
CREATE TABLE relations (
  relation_id bigint NOT NULL, changeset_id bigint NOT NULL,
  "timestamp" timestamp NOT NULL, version bigint NOT NULL,
  visible boolean NOT NULL, redaction_id integer);
CREATE TABLE node_tags (node_id bigint, version bigint, k varchar, v varchar);
CREATE TABLE way_tags (way_id bigint, k varchar, v varchar, version bigint);
CREATE TABLE relation_tags (relation_id bigint, k varchar, v varchar, version bigint);
CREATE TABLE changeset_tags (changeset_id bigint, k varchar, v varchar);
CREATE TABLE way_nodes (way_id bigint, node_id bigint, version bigint, sequence_id bigint);
CREATE TABLE relation_members (
  relation_id bigint, member_type nwr_enum, member_id bigint,
  member_role varchar, version bigint, sequence_id integer);
CREATE TABLE changeset_comments (
  id integer, changeset_id bigint, author_id bigint, body text,
  created_at timestamp, visible boolean);

-- row counts of the Liechtenstein extract, times :scale
CREATE TEMP TABLE dims AS SELECT
  greatest(3, round(228 * :scale))::bigint AS n_users,
  greatest(3, round(1405 * :scale))::bigint AS n_changesets,
  -- ids per table: row target / mean versions per id (see below)
  greatest(3, round(65734 * :scale / 1.476))::bigint AS n_node_ids,
  greatest(3, round(7121 * :scale / 1.333))::bigint AS n_way_ids,
  greatest(3, round(113 * :scale / 1.5))::bigint AS n_relation_ids,
  greatest(3, round(2 * :scale))::bigint AS n_comments;

-- h(key, salt): uniform non-negative bigint, fixed by (:seed, key, salt);
-- the seed is spliced in so the function stays inlinable
SELECT format('CREATE FUNCTION pg_temp.h(key bigint, salt integer) RETURNS bigint
  LANGUAGE sql IMMUTABLE PARALLEL SAFE
  RETURN hashint8extended(key * 64 + salt, %s) & 9223372036854775807', :'seed'::bigint)
\gexec

-- users: ~80 % public; id -1 is the non-public anonymous account
INSERT INTO users
SELECT 'user' || id || '@example.com', id, md5(id::text), timestamp '2008-01-01' + id * interval '1 hour',
       CASE WHEN pg_temp.h(id, 1) % 7 = 0 THEN 'Zoë & <' || id || '> "map"' ELSE 'mapper_' || id END,
       pg_temp.h(id, 2) % 5 <> 0, '', 0, 0, 0, 0, 'salt'
FROM dims, generate_series(1, n_users) id;
INSERT INTO users VALUES ('osmosis_user_-1@example.com', -1, '00000000000000000000000000000000',
  timestamp '2008-01-01', 'Osmosis Anonymous', false, '', 0, 0, 0, 0, 'salt');

-- changesets: created every ~37 min from 2010, open for an hour; every
-- tenth has no bbox; created_at carries microseconds (truncated on read)
INSERT INTO changesets
SELECT id, 1 + pg_temp.h(id, 3) % n_users,
       timestamp '2010-01-01' + id * interval '37 minutes' + (pg_temp.h(id, 4) % 1000000) * interval '1 microsecond',
       CASE WHEN id % 10 = 0 THEN NULL ELSE 470400000 + (pg_temp.h(id, 5) % 1000000)::int END,
       CASE WHEN id % 10 = 0 THEN NULL ELSE 471400000 + (pg_temp.h(id, 6) % 1000000)::int END,
       CASE WHEN id % 10 = 0 THEN NULL ELSE 94700000 + (pg_temp.h(id, 7) % 800000)::int END,
       CASE WHEN id % 10 = 0 THEN NULL ELSE 95500000 + (pg_temp.h(id, 8) % 800000)::int END,
       timestamp '2010-01-01' + id * interval '37 minutes' + interval '1 hour',
       (pg_temp.h(id, 9) % 500)::int
FROM dims, generate_series(1, n_changesets) id;
-- negative ids are dropped by every output
INSERT INTO changesets VALUES
  (-1, 1, timestamp '2010-01-01', NULL, NULL, NULL, NULL, timestamp '2010-01-01 01:00', 0),
  (-2, 2, timestamp '2010-01-01', NULL, NULL, NULL, NULL, timestamp '2010-01-01 01:00', 0);

INSERT INTO changeset_tags
SELECT id, 'created_by', 'JOSM/1.5 (' || (pg_temp.h(id, 10) % 9000) || ')' FROM dims, generate_series(1, n_changesets) id
UNION ALL
SELECT id, 'comment', CASE WHEN id % 13 = 0 THEN 'Straße über Brücke ' || id ELSE 'edit ' || id END
FROM dims, generate_series(1, n_changesets) id;

-- element versions: 1..nv per id; the last version of some is a delete;
-- some earlier versions are redacted
CREATE TEMP TABLE node_versions AS
SELECT id, v, nv FROM (
  SELECT id, 1 + (pg_temp.h(id, 11) % 3 = 0)::int + (pg_temp.h(id, 12) % 7 = 0)::int AS nv
  FROM dims, generate_series(1, n_node_ids) id) s, generate_series(1, nv) v;
INSERT INTO nodes
SELECT nv.id, 470400000 + (pg_temp.h(nv.id * 8 + v, 13) % 2300000)::int,
       94700000 + (pg_temp.h(nv.id * 8 + v, 14) % 1700000)::int,
       c.id, NOT (v = nv AND nv > 1 AND pg_temp.h(nv.id, 15) % 4 = 0),
       c.created_at + (pg_temp.h(nv.id * 8 + v, 16) % 3000) * interval '1 second',
       pg_temp.h(nv.id, 17) % 4294967296, v,
       CASE WHEN v < nv AND pg_temp.h(nv.id * 8 + v, 18) % 20 = 0 THEN 1 END
FROM node_versions nv, dims
JOIN changesets c ON true
WHERE c.id = 1 + pg_temp.h(nv.id * 8 + nv.v, 19) % dims.n_changesets;
INSERT INTO nodes VALUES
  (-1, 470500000, 95000000, 1, true, timestamp '2010-01-01 00:10', 0, 1, NULL),
  (-2, 470500000, 95000000, 2, true, timestamp '2010-01-01 00:20', 0, 1, NULL);

CREATE TEMP TABLE way_versions AS
SELECT id, v, nv FROM (
  SELECT id, 1 + (pg_temp.h(id, 21) % 3 = 0)::int AS nv
  FROM dims, generate_series(1, n_way_ids) id) s, generate_series(1, nv) v;
INSERT INTO ways
SELECT wv.id, c.id, c.created_at + (pg_temp.h(wv.id * 8 + v, 22) % 3000) * interval '1 second', v,
       NOT (v = nv AND nv > 1 AND pg_temp.h(wv.id, 23) % 4 = 0),
       CASE WHEN v < nv AND pg_temp.h(wv.id * 8 + v, 24) % 20 = 0 THEN 1 END
FROM way_versions wv, dims
JOIN changesets c ON true
WHERE c.id = 1 + pg_temp.h(wv.id * 8 + wv.v, 25) % dims.n_changesets;
INSERT INTO ways VALUES (-1, 1, timestamp '2010-01-01 00:30', 1, true, NULL);

CREATE TEMP TABLE relation_versions AS
SELECT id, v, nv FROM (
  SELECT id, 1 + (pg_temp.h(id, 31) % 2 = 0)::int AS nv
  FROM dims, generate_series(1, n_relation_ids) id) s, generate_series(1, nv) v;
INSERT INTO relations
SELECT rv.id, c.id, c.created_at + (pg_temp.h(rv.id * 8 + v, 32) % 3000) * interval '1 second', v,
       NOT (v = nv AND nv > 1 AND pg_temp.h(rv.id, 33) % 4 = 0),
       CASE WHEN v < nv AND pg_temp.h(rv.id * 8 + v, 34) % 10 = 0 THEN 1 END
FROM relation_versions rv, dims
JOIN changesets c ON true
WHERE c.id = 1 + pg_temp.h(rv.id * 8 + rv.v, 35) % dims.n_changesets;
INSERT INTO relations VALUES (-1, 1, timestamp '2010-01-01 00:40', 1, true, NULL);

-- tags and members only on visible versions, as in apidb. Keys are
-- distinct per element version; some values carry control characters
-- and non-ASCII keys exercise byte-order tag sorting.
INSERT INTO node_tags
SELECT n.node_id, n.version, (ARRAY['name', 'amenity', 'näme:de'])[j],
       CASE WHEN pg_temp.h(n.node_id * 8 + n.version, 41) % 40 = 0
            THEN 'bad' || chr(1) || 'char' || chr(27) || 'ter' || chr(8) || n.node_id
            ELSE 'value ' || n.node_id || '/' || j END
FROM nodes n, generate_series(1, 1 + (pg_temp.h(n.node_id * 8 + n.version, 42) % 2)::int) j
WHERE n.visible AND n.node_id > 0 AND pg_temp.h(n.node_id * 8 + n.version, 43) % 20 = 0;

INSERT INTO way_nodes
SELECT w.way_id, 1 + pg_temp.h((w.way_id * 8 + w.version) * 32 + s, 44) % d.n_node_ids, w.version, s
FROM ways w, dims d, generate_series(1, 2 + (pg_temp.h(w.way_id * 8 + w.version, 45) % 17)::int) s
WHERE w.visible;

INSERT INTO way_tags
SELECT w.way_id, (ARRAY['highway', 'name', 'surface', 'oneway'])[j],
       CASE WHEN pg_temp.h(w.way_id * 8 + w.version, 46) % 40 = 0
            THEN 'tab' || chr(9) || 'new' || chr(10) || 'line' || chr(31) || w.way_id
            ELSE 'way value ' || w.way_id || '/' || j END,
       w.version
FROM ways w, generate_series(1, 1 + (pg_temp.h(w.way_id * 8 + w.version, 47) % 3)::int) j
WHERE w.visible;

INSERT INTO relation_members
SELECT r.relation_id, t.mtype,
       CASE t.mtype WHEN 'Node' THEN 1 + pg_temp.h((r.relation_id * 8 + r.version) * 256 + s, 49) % d.n_node_ids
                    WHEN 'Way' THEN 1 + pg_temp.h((r.relation_id * 8 + r.version) * 256 + s, 49) % d.n_way_ids
                    ELSE 1 + pg_temp.h((r.relation_id * 8 + r.version) * 256 + s, 49) % d.n_relation_ids END,
       (ARRAY['', 'outer', 'inner', 'stop', 'platform'])[1 + pg_temp.h((r.relation_id * 8 + r.version) * 256 + s, 50) % 5],
       r.version, s
FROM relations r, dims d,
     generate_series(1, 1 + (pg_temp.h(r.relation_id * 8 + r.version, 51) % 150)::int) s,
     LATERAL (SELECT (ARRAY['Node', 'Way', 'Relation'])[1 + pg_temp.h((r.relation_id * 8 + r.version) * 256 + s, 48) % 3]::nwr_enum AS mtype) t
WHERE r.visible;

INSERT INTO relation_tags
SELECT r.relation_id, CASE WHEN j = 1 THEN 'type' ELSE 'key' || lpad(j::text, 2, '0') END,
       CASE WHEN j = 1 THEN 'multipolygon' ELSE 'rel value ' || r.relation_id || '/' || j END,
       r.version
FROM relations r, generate_series(1, 3 + (pg_temp.h(r.relation_id * 8 + r.version, 52) % 15)::int) j
WHERE r.visible;

-- comments: the first body is over 64 KiB; every fifth is hidden
INSERT INTO changeset_comments
SELECT i, c.id, 1 + pg_temp.h(i, 62) % d.n_users,
       CASE WHEN i = 1 THEN repeat('A very long changeset comment. ', 2200) || i
            ELSE 'Comment ' || i || ' with <markup> & "quotes"' END,
       c.created_at + i * interval '1 second', i % 5 <> 3
FROM dims d, generate_series(1, n_comments) i, changesets c
WHERE c.id = 1 + pg_temp.h(i, 61) % d.n_changesets;

DROP TABLE node_versions, way_versions, relation_versions, dims;

-- expected element counts: history = non-redacted versions with
-- non-negative ids; planet = the latest such version, when visible
\pset format unaligned
\pset fieldsep '\t'
\pset tuples_only on
SELECT 'changesets', count(*) FROM changesets WHERE id >= 0
UNION ALL SELECT 'history_node', count(*) FROM nodes WHERE node_id >= 0 AND redaction_id IS NULL
UNION ALL SELECT 'history_way', count(*) FROM ways WHERE way_id >= 0 AND redaction_id IS NULL
UNION ALL SELECT 'history_relation', count(*) FROM relations WHERE relation_id >= 0 AND redaction_id IS NULL
UNION ALL SELECT 'planet_node', count(*) FROM (
  SELECT DISTINCT ON (node_id) visible FROM nodes WHERE node_id >= 0 AND redaction_id IS NULL
  ORDER BY node_id, version DESC) s WHERE visible
UNION ALL SELECT 'planet_way', count(*) FROM (
  SELECT DISTINCT ON (way_id) visible FROM ways WHERE way_id >= 0 AND redaction_id IS NULL
  ORDER BY way_id, version DESC) s WHERE visible
UNION ALL SELECT 'planet_relation', count(*) FROM (
  SELECT DISTINCT ON (relation_id) visible FROM relations WHERE relation_id >= 0 AND redaction_id IS NULL
  ORDER BY relation_id, version DESC) s WHERE visible
UNION ALL SELECT 'rows', (SELECT count(*) FROM users) + (SELECT count(*) FROM changesets)
  + (SELECT count(*) FROM nodes) + (SELECT count(*) FROM ways) + (SELECT count(*) FROM relations)
  + (SELECT count(*) FROM node_tags) + (SELECT count(*) FROM way_tags) + (SELECT count(*) FROM relation_tags)
  + (SELECT count(*) FROM changeset_tags) + (SELECT count(*) FROM way_nodes)
  + (SELECT count(*) FROM relation_members) + (SELECT count(*) FROM changeset_comments);
