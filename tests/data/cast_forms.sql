/* T-SQL CASTs in a default, a CHECK, a filtered index and a view: the
   translator renders them for Spark, and the PostgreSQL scripts must
   spell their types for PostgreSQL */
CREATE TABLE [dbo].[t] (
	[id] [int] NOT NULL,
	[x] [int] NULL,
	[code] [varchar](10) NULL,
	[price] [float] NULL,
	[tag] [char](3) NULL,
	CONSTRAINT [pk_t] PRIMARY KEY ([id])
)
GO
ALTER TABLE [dbo].[t] ADD  CONSTRAINT [df_code]  DEFAULT (CAST((42) AS varchar(10))) FOR [code]
GO
ALTER TABLE [dbo].[t] ADD  CONSTRAINT [df_price]  DEFAULT (CAST('1.5' AS float)) FOR [price]
GO
ALTER TABLE [dbo].[t]  WITH CHECK ADD  CONSTRAINT [ck_t] CHECK  ((CAST([x] AS varchar(10))<>'AS STRING)' AND CAST([x] AS float)<(100)))
GO
CREATE NONCLUSTERED INDEX [ix_t] ON [dbo].[t] ([x]) WHERE ([price]>CAST((1) AS float))
GO
CREATE VIEW [dbo].[v] AS
SELECT [id], CAST([x] AS varchar(10)) AS [xs], CAST([x] AS float) AS [xf],
       CAST([x] AS char(3)) AS [xc], CAST([code] AS text) AS [ct],
       CAST([x] AS real) AS [xr], CAST(GETDATE() AS date) AS [today]
FROM [t]
GO
