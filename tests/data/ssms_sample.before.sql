\set ON_ERROR_STOP
BEGIN;
CREATE SCHEMA IF NOT EXISTS "sales";
CREATE TABLE "public"."customers" (
  "customerid" integer NOT NULL,
  "name" varchar(100) NOT NULL,
  "note" varchar(200),
  "created" timestamp NOT NULL,
  "score" numeric(10,2),
  "region" char(2),
  "mobile" varchar(20)
);
CREATE TABLE "public"."orders" (
  "orderid" integer NOT NULL,
  "customerid" integer NOT NULL,
  "amount" numeric(19,4),
  "status" smallint NOT NULL,
  "placed" timestamp
);
CREATE TABLE "public"."sales_orders" (
  "order_id" integer NOT NULL,
  "order_date" timestamp,
  "ship.mode" varchar(20),
  "odd]name" integer
);
CREATE TABLE "sales"."regions" (
  "id" integer NOT NULL,
  "code" char(3),
  "label" text
);
CREATE SEQUENCE "public"."customers_customerid_seq" START WITH 1;
CREATE SEQUENCE "public"."invoiceno" INCREMENT BY 5 START WITH 1000;
CREATE SEQUENCE "public"."sales_orders_order_id_seq" START WITH 1;
COMMIT;
