ALTER TABLE "public"."customers" ADD CONSTRAINT "ck_customers_region" CHECK ((region<>'''' AND region NOT LIKE '%/*%'));
ALTER TABLE "public"."orders" ADD CONSTRAINT "ck_orders_amount" CHECK ((amount>=(0) AND status<(5)));
CREATE INDEX "ix_orders_open" ON "public"."orders" ("placed") WHERE (status=(1) AND amount>(100));
CREATE UNIQUE INDEX "ix_regions_id" ON "sales"."regions" ("id") WHERE ((ID) > 10);
CREATE VIEW "public"."vfrenchcustomers" AS SELECT customerid, name || ' (' || region || ')' AS label
FROM public.customers WHERE region = 'FR';
CREATE VIEW "public"."vordertotals" AS SELECT o.customerid, COUNT(*) AS orders, SUM(coalesce(o.amount, 0)) AS total,
       left(to_char(MAX(o.placed), 'YYYY-MM-DD HH24:MI:SS'), 10) AS lastorder
FROM public.orders AS o
GROUP BY o.customerid;
CREATE VIEW "sales"."vregiondates" AS SELECT [ID], DATEDIFF(day, GETDATE(), SYSDATETIME()) AS [Age], SOUNDEX([Code]) AS [Sound]
FROM [sales].[Regions];
CREATE VIEW "public"."sales_order_dates" ("order_id", "order_date") AS SELECT order_id, order_date FROM public.sales_orders;
