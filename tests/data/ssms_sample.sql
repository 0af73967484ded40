/****** Object:  Schema [sales]    Script Date: 3/14/2024 9:26:53 AM ******/
CREATE SCHEMA [sales]
GO
SET ANSI_NULLS ON
GO
SET QUOTED_IDENTIFIER ON
GO
/* A block comment with a quote: the customer's table (unbalanced paren
   and a second line, both dropped before statements are grouped */
CREATE TYPE [dbo].[Phone] FROM [varchar](20) NULL
GO
CREATE TABLE [dbo].[Customers](
	[CustomerID] [int] IDENTITY(1,1) NOT NULL,
	[Name] [nvarchar](100) NOT NULL,
	[Note] [varchar](200) NULL CONSTRAINT [DF_Customers_Note]  DEFAULT ('it''s /* not a comment */ (really'),
	[Created] [datetime] NOT NULL CONSTRAINT [DF_Customers_Created]  DEFAULT (getdate()),
	[Score] [decimal](10, 2) NULL CONSTRAINT [DF_Customers_Score]  DEFAULT ((0.5)),
	[Region] [char](2) NULL,
	[Mobile] [Phone] NULL,
	[FullLabel]  AS (([Name]+N' / ')+isnull([Region],N'??')) PERSISTED,
 CONSTRAINT [PK_Customers] PRIMARY KEY CLUSTERED 
(
	[CustomerID] ASC
)WITH (PAD_INDEX = OFF, STATISTICS_NORECOMPUTE = OFF, IGNORE_DUP_KEY = OFF) ON [PRIMARY],
 CONSTRAINT [UQ_Customers_Name] UNIQUE NONCLUSTERED 
(
	[Name] ASC
)
) ON [PRIMARY]
GO
CREATE TABLE [dbo].[Orders](
	[OrderID] [int] NOT NULL,
	[CustomerID] [int] NOT NULL,
	[Amount] [money] NULL,
	[Status] [tinyint] NOT NULL,
	[Placed] [datetime2](7) NULL CONSTRAINT [DF_Orders_Placed]  DEFAULT (dateadd(day,(1),getdate())),
 CONSTRAINT [PK_Orders] PRIMARY KEY CLUSTERED ([OrderID] ASC)
) ON [PRIMARY]
CREATE TABLE [sales].[Regions](
	[ID] [int] NOT NULL,
	[Code] [nchar](3) NULL,
	[Label] [nvarchar](max) NULL
) ON [PRIMARY] TEXTIMAGE_ON [PRIMARY]
GO
CREATE UNIQUE NONCLUSTERED INDEX [IX_Regions_ID] ON [sales].[Regions]
(
	[ID] ASC
)
WHERE ((ID) > 10))
CREATE NONCLUSTERED INDEX [IX_Regions_Code] ON [sales].[Regions] ([Code] ASC)
GO
CREATE NONCLUSTERED INDEX [IX_Orders_Customer] ON [dbo].[Orders]
(
	[CustomerID] ASC,
	[Placed] DESC
)
INCLUDE ([Amount],[Status]) WITH (PAD_INDEX = OFF, SORT_IN_TEMPDB = OFF) ON [PRIMARY]
GO
CREATE NONCLUSTERED INDEX [IX_Orders_Open] ON [dbo].[Orders]
(
	[Placed] ASC
)
WHERE ([Status]=(1) AND [Amount]>(100))
WITH (PAD_INDEX = OFF) ON [PRIMARY]
GO
ALTER TABLE [dbo].[Orders] ADD  CONSTRAINT [DF_Orders_Status]  DEFAULT ((1)) FOR [Status]
GO
ALTER TABLE [dbo].[Orders]  WITH CHECK ADD  CONSTRAINT [FK_Orders_Customers] FOREIGN KEY([CustomerID])
REFERENCES [dbo].[Customers] ([CustomerID])
ON DELETE CASCADE
GO
ALTER TABLE [dbo].[Orders] CHECK CONSTRAINT [FK_Orders_Customers]
GO
ALTER TABLE [dbo].[Orders]  WITH CHECK ADD  CONSTRAINT [CK_Orders_Amount] CHECK  (([Amount]>=(0) AND [Status]<(5)))
GO
ALTER TABLE [dbo].[Customers]  WITH CHECK ADD  CONSTRAINT [CK_Customers_Region] CHECK  (([Region]<>'''' AND [Region] NOT LIKE '%/*%'))
GO
CREATE TYPE [dbo].[OrderLines] AS TABLE(
	[LineNo] [int] NOT NULL,
	[Sku] [nvarchar](20) NULL,
	[Qty] [decimal](9, 3) NULL DEFAULT ((1)),
	PRIMARY KEY CLUSTERED 
(
	[LineNo] ASC
)WITH (IGNORE_DUP_KEY = OFF)
)
GO
CREATE SEQUENCE [dbo].[InvoiceNo] 
 AS [bigint]
 START WITH 1000
 INCREMENT BY 5
 MINVALUE 1
 MAXVALUE 9999999
 CACHE  20 
GO
EXEC sys.sp_executesql N'CREATE VIEW [dbo].[vFrenchCustomers] AS
SELECT [CustomerID], [Name] + N'' ('' + [Region] + N'')'' AS [Label]
FROM [dbo].[Customers] WHERE [Region] = N''FR'''
GO
CREATE VIEW [dbo].[vOrderTotals]
AS
SELECT o.[CustomerID], COUNT(*) AS [Orders], SUM(ISNULL(o.[Amount], 0)) AS [Total],
       CONVERT(varchar(10), MAX(o.[Placed]), 120) AS [LastOrder]
FROM [dbo].[Orders] AS o
GROUP BY o.[CustomerID]
GO
CREATE VIEW [sales].[vRegionDates]
AS
SELECT [ID], DATEDIFF(day, GETDATE(), SYSDATETIME()) AS [Age], SOUNDEX([Code]) AS [Sound]
FROM [sales].[Regions]
GO
EXEC sys.sp_addextendedproperty @name=N'MS_Description', @value=N'Customer''s master record' , @level0type=N'SCHEMA',@level0name=N'dbo', @level1type=N'TABLE',@level1name=N'Customers'
GO
EXEC sys.sp_addextendedproperty @name=N'MS_Description', @value=N'Display name' , @level0type=N'SCHEMA',@level0name=N'dbo', @level1type=N'TABLE',@level1name=N'Customers', @level2type=N'COLUMN',@level2name=N'Name'
GO
EXEC sys.sp_addextendedproperty @name=N'MS_DiagramPane1', @value=N'[0E232FF0-B466-11cf-A24F-00AA00A3EFFF, 1.00]' , @level0type=N'SCHEMA',@level0name=N'dbo', @level1type=N'VIEW',@level1name=N'vOrderTotals'
GO
/****** Object:  Table [dbo].[Sales Orders] — bracketed names with spaces, dots and ]] ******/
CREATE TABLE [dbo].[Sales Orders](
	[Order Id] [int] IDENTITY(1,1) NOT NULL,
	[Order Date] [datetime] NULL,
	[Ship.Mode] [nvarchar](20) NULL,
	[Odd]]Name] [int] NULL,
 CONSTRAINT [PK_Sales Orders] PRIMARY KEY CLUSTERED 
(
	[Order Id] ASC
)
) ON [PRIMARY]
GO
ALTER TABLE [dbo].[Sales Orders] ADD  CONSTRAINT [DF_Sales Orders_Order Date]  DEFAULT (getdate()) FOR [Order Date]
GO
CREATE NONCLUSTERED INDEX [IX_Sales Orders_Order Date] ON [dbo].[Sales Orders]
(
	[Order Date] DESC
)
GO
EXEC sys.sp_addextendedproperty @name=N'MS_Description', @value=N'When the order was taken' , @level0type=N'SCHEMA',@level0name=N'dbo', @level1type=N'TABLE',@level1name=N'Sales Orders', @level2type=N'COLUMN',@level2name=N'Order Date'
GO
CREATE VIEW [dbo].[Sales Order Dates] ([Order Id], [Order Date])
AS
SELECT [Order Id], [Order Date] FROM [dbo].[Sales Orders]
GO
